"""Upsert / changelog sink emulation (SURVEY §2.2 K3).

Parity: Flink's upsert-kafka sink (SQLUtil.java:55-63) consumes a retract
stream and emits keyed records + null-value tombstones for retractions —
required downstream of streaming left joins (DwdTradeOrderDetail.java:54-58).

Spark-native design (SURVEY §7.3): outer-join results converge through a
keyed last-write-wins MERGE per micro-batch.  The intermediate retract
*sequence* differs from Flink (no eager null-padded emissions); the final
relation is identical — which is what the batch oracle checks and what any
downstream table consumer observes.

Storage: a keyed parquet table hash-bucketed into ``n_buckets`` fixed
buckets, crash-safe via versioned directories + a per-version bucket
MANIFEST + an atomically-flipped CURRENT pointer (the same
snapshot-pointer + manifest idea Delta/Iceberg use).  A MERGE rewrites
ONLY the buckets the batch touches and inherits the rest from the
previous manifest, so per-batch cost is O(touched state), not O(total
state) — matching the ``MERGE INTO`` contract those formats give on a
real cluster.

TTL is two-layer, the way Flink's RocksDB state TTL works: a logical
horizon (``set_ttl_horizon``) filters expired rows out of every
``read()`` immediately, and the physical bytes are reclaimed lazily
whenever a bucket is rewritten by a later merge (compaction-style) or
eagerly via ``compact()``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency conflict: CURRENT moved between the moment
    a writer read its snapshot and the moment it tried to flip.  Same
    contract as a Delta/Iceberg commit conflict — the loser fails loud
    (its merge silently dropping the winner's buckets would be a lost
    update) and should re-read and retry."""


class KeyedTable:
    """A primary-keyed table with MERGE semantics over parquet.

    upsert(batch)  — last-write-wins by key (ordered by `version_col`)
    delete(keys)   — tombstone application (type='delete' rows, K4)
    """

    # bloom sidecar geometry (see read_eq); each sidecar records its own
    # bits and k, so a probe reads sidecars of any geometry
    BLOOM_BITS = 65536
    BLOOM_K = 4

    def __init__(
        self,
        path: str,
        keys: list[str],
        version_col: str | None = None,
        keep_versions: int = 1,
        n_buckets: int = 16,
        ttl_col: str = "ts",
        bloom_cols: list[str] | None = None,
    ):
        self.path = path
        self.keys = keys
        self.version_col = version_col
        # pruning observability of the latest read_eq/read_in (None until
        # a bloom-pruned read runs)
        self.last_eq_scan: dict | None = None
        # per-bucket bloom sidecars for equality skipping on NON-key
        # columns (see read_eq): built at commit for written buckets;
        # inherited buckets keep the sidecar next to their data files
        self.bloom_cols = list(bloom_cols or [])
        if keep_versions < 1:
            raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
        self.keep_versions = keep_versions
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        self.n_buckets = n_buckets
        # how long a staged-but-unjournaled version dir is protected from
        # GC (closes the prepare_merge -> TXN_INTENT race; see _commit)
        self.staged_protect_s: float = 3600.0
        # disk is the source of truth for an EXISTING table's bucket
        # count: a reopening instance adopts the committed manifest's
        # n_buckets (otherwise a default-parameter reopen would silently
        # full-rewrite a rescaled table back to the default layout)
        cur = self._current_version()
        if cur is not None:
            man = self._load_manifest(cur)
            self.n_buckets = int(man["n_buckets"])
            # adopt the committed bloom columns like n_buckets: a
            # default-parameter reopen must keep building sidecars, or
            # the next compaction would silently shed them
            blm = man.get("bloom")
            if blm and not self.bloom_cols:
                self.bloom_cols = list(blm["cols"])
        self.ttl_col = ttl_col
        self.ttl_horizon: int | None = None
        ttl_f = os.path.join(self.path, "TTL")
        if os.path.exists(ttl_f):  # survive restarts: expired stays expired
            with open(ttl_f) as fh:
                txt = fh.read().strip()
            self.ttl_horizon = int(txt) if txt else None

    def set_ttl_horizon(self, horizon: int | None) -> None:
        """Logical TTL watermark: rows with ``ttl_col < horizon`` vanish
        from ``read()`` immediately (exact semantics, zero I/O) and are
        physically dropped whenever their bucket is next rewritten —
        the same lazy-compaction cleanup Flink's RocksDB TTL uses.
        Persisted so a restarted pipeline never resurrects expired rows."""
        self.ttl_horizon = horizon
        ttl_f = os.path.join(self.path, "TTL")
        if horizon is not None:
            os.makedirs(self.path, exist_ok=True)
            tmp = ttl_f + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(str(int(horizon)))
            os.replace(tmp, ttl_f)
        elif os.path.exists(ttl_f):
            # disabling TTL must persist too, or a restart resurrects the
            # old horizon and silently hides committed rows
            os.remove(ttl_f)

    def _apply_ttl(self, df: DataFrame | None) -> DataFrame | None:
        if df is None or self.ttl_horizon is None or self.ttl_col not in df.columns:
            return df
        return df.filter(
            F.col(self.ttl_col).cast("long") >= F.lit(int(self.ttl_horizon))
        )

    def _bucket_expr(self):
        if not self.keys:
            return F.lit(0).cast("int")
        return F.pmod(
            F.hash(*[F.col(k) for k in self.keys]), F.lit(self.n_buckets)
        ).cast("int")

    def _current_file(self) -> str:
        return os.path.join(self.path, "CURRENT")

    def _history_file(self) -> str:
        return os.path.join(self.path, "HISTORY")

    def _history(self) -> list[str]:
        """COMMITTED version names, oldest first, that still exist on
        disk.  HISTORY is appended only after the CURRENT flip, so an
        uncommitted (crash-orphaned) version dir never appears here; if a
        crash lost the append for the committed CURRENT itself, it is
        self-healed to the tail."""
        f = self._history_file()
        names: list[str] = []
        if os.path.exists(f):
            with open(f) as fh:
                names = [ln.strip() for ln in fh if ln.strip()]
        cur = None
        if os.path.exists(self._current_file()):
            with open(self._current_file()) as fh:
                cur = fh.read().strip()
        if cur and cur not in names:
            names.append(cur)
        return [v for v in names if os.path.exists(os.path.join(self.path, v))]

    def _current_dir(self) -> str | None:
        v = self._current_version()
        if v is None:
            return None
        d = os.path.join(self.path, v)
        return d if os.path.exists(d) else None

    def _current_version(self) -> str | None:
        f = self._current_file()
        if not os.path.exists(f):
            return None
        with open(f) as fh:
            v = fh.read().strip()
        return v if os.path.exists(os.path.join(self.path, v)) else None

    def _pending_txn_version(self) -> str | None:
        """This table's version in a pending cross-table intent journal
        (sinks/txn.py writes TXN_INTENT in the warehouse root — the
        table paths' parent), or None.  A journaled version is
        COMMITTED-but-not-yet-flipped: normal commits refuse while one
        is pending (fail loud beats losing either batch to recovery
        order), and recover() completes it."""
        journal = os.path.join(os.path.dirname(self.path.rstrip("/")), "TXN_INTENT")
        if not os.path.exists(journal):
            return None
        try:
            with open(journal) as fh:
                for e in json.load(fh):
                    if os.path.normpath(e["path"]) == os.path.normpath(self.path):
                        return e["version"]
        except (json.JSONDecodeError, KeyError):
            return None  # half-written journal: recover() treats as absent
        return None

    @staticmethod
    def manifest_path_of(table_path: str, version: str) -> str:
        """Single source of truth for the per-version manifest location —
        also used by sinks/txn.py, so a layout rename can never silently
        disable the transaction path's checks."""
        return os.path.join(table_path, version, "MANIFEST.json")

    @staticmethod
    def current_pointer_of(table_path: str) -> str | None:
        """Raw CURRENT pointer value (no existence check on the version
        dir) — the read protocol shared with sinks/txn.py."""
        cur_f = os.path.join(table_path, "CURRENT")
        if not os.path.exists(cur_f):
            return None
        with open(cur_f) as fh:
            return fh.read().strip()

    def _manifest_path(self, version: str) -> str:
        return self.manifest_path_of(self.path, version)

    def _load_manifest(self, version: str) -> dict:
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    @staticmethod
    def _bloom_positions(value, bits: int, k: int) -> list[int]:
        """The k bit positions of `value` — md5 double hashing over the
        value's STRING form (matching the Spark build side's
        md5(cast(col as string)); int and string columns format
        identically on both sides)."""
        import hashlib

        h = hashlib.md5(str(value).encode()).hexdigest()
        h1 = int(h[:8], 16) % bits
        h2 = int(h[8:16], 16) % (bits - 1) + 1  # never 0
        return [(h1 + i * h2) % bits for i in range(k)]

    def _bloom_pos_expr(self, col: str):
        """Spark twin of `_bloom_positions`: array of the k positions."""
        bits = self.BLOOM_BITS
        md5 = F.md5(F.col(col).cast("string"))
        h1 = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long") % bits
        h2 = F.conv(F.substring(md5, 9, 8), 16, 10).cast("long") % (bits - 1) + 1
        return F.array(*[(h1 + F.lit(i) * h2) % bits for i in range(self.BLOOM_K)])

    # Bloom hashing relies on Python str(value) matching Spark's
    # CAST(col AS STRING) bit-for-bit.  That parity holds ONLY for
    # integral and string types; it silently breaks for boolean ('True'
    # vs 'true'), float/decimal (Java '1.5E7' vs Python '15000000.0'),
    # and date/timestamp formatting — where a mismatched hash would
    # prune buckets that DO contain matches, i.e. return wrong results.
    # Enforced at sidecar-build time and again at probe time.
    _BLOOM_TYPES = ("byte", "short", "integer", "long", "string")

    @classmethod
    def _check_bloom_dtype(cls, col: str, type_name: str) -> None:
        if type_name not in cls._BLOOM_TYPES:
            raise ValueError(
                f"bloom column {col!r} has type {type_name!r}: bloom "
                "equality skipping supports integral/string columns only "
                "(the md5 is over the value's string form, and Python "
                "str(value) must equal Spark CAST(col AS STRING) exactly "
                "— it does not for boolean/float/decimal/timestamp)"
            )

    def _write_bloom_sidecars(self, spark, build_dir: str, written: set) -> None:
        """Build `_bloom_{col}.json` inside every written bucket dir (the
        '_' prefix keeps Spark's parquet reader from touching it; the
        sidecar travels WITH the bucket, so inherited buckets keep their
        filters without any manifest bookkeeping).  The build is one
        distributed pass: k bit positions per row, collect_set per
        bucket — the driver receives at most n_buckets x BLOOM_BITS
        ints (the filter itself, never the data).  ``written`` names the
        bucket ids this commit materialized; the write loop is
        restricted to them, so a build layout that ever grows
        non-written entries cannot produce stray sidecars."""
        import base64

        src = spark.read.parquet(build_dir)
        for col in self.bloom_cols:
            if col not in src.columns:
                continue
            self._check_bloom_dtype(col, src.schema[col].dataType.typeName())
            rows = (
                src.where(F.col(col).isNotNull())
                .select(
                    F.col("__b").cast("string").alias("__b"),
                    F.explode(self._bloom_pos_expr(col)).alias("p"),
                )
                .groupBy("__b")
                .agg(F.collect_set("p").alias("ps"))
            ).collect()  # bounded: <= n_buckets rows x <= BLOOM_BITS ints
            for r in rows:
                if r["__b"] not in written:
                    continue
                bm = bytearray(self.BLOOM_BITS // 8)
                for p in r["ps"]:
                    p = int(p)
                    bm[p // 8] |= 1 << (p % 8)
                side = {"bits": self.BLOOM_BITS, "k": self.BLOOM_K,
                        "bitmap": base64.b64encode(bytes(bm)).decode()}
                with open(
                    os.path.join(build_dir, f"__b={r['__b']}",
                                 f"_bloom_{col}.json"), "w"
                ) as fh:
                    json.dump(side, fh)

    def read_eq(self, spark: SparkSession, col: str, value) -> DataFrame | None:
        """Equality read with BLOOM data skipping on a non-key column —
        the pruning type that fires under hash bucketing, where fresh
        keys land in every bucket and a min/max skip index cannot prune:
        a high-cardinality equality probe is excluded by most buckets'
        blooms regardless of layout.  Buckets without a sidecar (never
        bloom-built) are scanned — absence only costs
        pruning, never correctness; the logical filter always applies on
        top, so false positives are harmless.  `self.last_eq_scan`
        records {buckets_total, buckets_scanned} for observability.
        Requires a bloom-typed column (int/string — the hash is over the
        string form)."""
        if value is None:
            raise ValueError("read_eq probes a concrete value, not NULL "
                             "(blooms never index NULLs)")
        if isinstance(value, bool) or not isinstance(value, (int, str)):
            raise ValueError(
                f"read_eq probe {value!r}: only int/str probes are "
                "supported (str(value) must equal the column's "
                "CAST AS STRING form — see _check_bloom_dtype)"
            )
        return self._read_bloom_pruned(
            spark, col, [value], F.col(col) == F.lit(value))

    def read_in(self, spark: SparkSession, col: str, values: list) -> DataFrame | None:
        """IN-list twin of ``read_eq``: keeps a bucket when its bloom
        admits ANY of the probed values (pruning weakens gracefully as
        the list grows — at |values| ~ bloom capacity every bucket
        admits something and this degrades to a full read + filter,
        never to a wrong answer)."""
        vals = [v for v in dict.fromkeys(values)]
        if not vals or any(v is None for v in vals):
            raise ValueError("read_in probes a non-empty list of concrete "
                             "values (blooms never index NULLs)")
        if any(isinstance(v, bool) or not isinstance(v, (int, str))
               for v in vals):
            raise ValueError(
                "read_in probes int/str values only (str(value) must "
                "equal the column's CAST AS STRING form — see "
                "_check_bloom_dtype)"
            )
        return self._read_bloom_pruned(spark, col, vals, F.col(col).isin(vals))

    def _read_bloom_pruned(
        self, spark: SparkSession, col: str, values: list, predicate
    ) -> DataFrame | None:
        import base64

        v = self._current_version()
        if v is None:
            return None
        man = self._load_manifest(v)
        man_schema = StructType.fromJson(man["schema"])
        if col in man_schema.fieldNames():
            # probe-time guard: a sidecar built before the dtype check
            # existed (or a column whose type changed) must fail loudly,
            # never mis-prune buckets that contain matches
            self._check_bloom_dtype(col, man_schema[col].dataType.typeName())
        kept: dict[str, str] = {}
        for b, ver in man["buckets"].items():
            side_f = os.path.join(self.path, ver, f"__b={b}",
                                  f"_bloom_{col}.json")
            keep = True
            if os.path.exists(side_f):
                with open(side_f) as fh:
                    side = json.load(fh)
                bm = base64.b64decode(side["bitmap"])
                keep = any(
                    all((bm[p // 8] >> (p % 8)) & 1
                        for p in self._bloom_positions(
                            val, side["bits"], side["k"]))
                    for val in values
                )
            if keep:
                kept[b] = ver
        self.last_eq_scan = {"buckets_total": len(man["buckets"]),
                             "buckets_scanned": len(kept)}
        return self._apply_ttl(
            self._read_buckets(spark, man, kept).filter(predicate))

    def _read_buckets(
        self, spark: SparkSession, man: dict, buckets: dict[str, str]
    ) -> DataFrame:
        """Raw read (no TTL filter) of the ``{bucket: version}`` leaf
        dirs under manifest ``man``'s schema, or an empty frame of that
        schema when ``buckets`` is empty.  Untouched buckets live in
        OLDER version dirs; reading leaf dirs directly adds no inferred
        partition column.  The manifest IS the schema authority (commits
        normalize column order to it, and the incremental path requires
        schema equality before inheriting buckets) — passing it skips
        the footer-read schema-inference job Spark otherwise runs on
        EVERY read (measured 47 -> 38 REST-visible jobs per trade
        micro-batch; the remainder are AQE stage-jobs and broadcast
        submissions, not extra driver actions)."""
        schema = StructType.fromJson(man["schema"])
        paths = [
            os.path.join(self.path, ver, f"__b={b}")
            for b, ver in sorted(buckets.items(), key=lambda kv: int(kv[0]))
        ]
        if not paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*paths)

    def _read_snapshot(self, spark: SparkSession, version: str) -> DataFrame:
        """Raw read (no TTL filter) of every bucket of ``version``."""
        man = self._load_manifest(version)
        return self._read_buckets(spark, man, man["buckets"])

    def exists(self, spark: SparkSession) -> bool:
        return self._current_version() is not None

    def read(self, spark: SparkSession) -> DataFrame | None:
        v = self._current_version()
        if v is None:
            return None
        return self._apply_ttl(self._read_snapshot(spark, v))

    def read_version(self, spark: SparkSession, steps_back: int = 0) -> DataFrame | None:
        """Time-travel read: the snapshot `steps_back` merges ago
        (0 = current).  Requires `keep_versions > steps_back` — older
        snapshots are GC'd.  This is the Delta/Iceberg `VERSION AS OF`
        shape on the same snapshot-pointer layout; on a cluster the
        KeyedTable maps onto those formats and this call maps onto their
        time travel."""
        hist = self._history()
        if steps_back < 0 or steps_back >= len(hist):
            return None
        return self._read_snapshot(spark, hist[-1 - steps_back])

    def history(self) -> list[str]:
        """Retained snapshot names, oldest first (audit surface)."""
        return self._history()

    def changes(self, spark: SparkSession, steps_back: int = 1) -> DataFrame | None:
        """Change data feed between the snapshot ``steps_back`` merges ago
        and CURRENT — the Delta/Iceberg `table_changes` surface on the
        same snapshot layout.  Rows carry a `_change_type` column:
        'insert', 'delete', 'update_preimage', 'update_postimage'
        (post/pre pairs for keys whose non-key payload changed).

        One full-outer join on the primary key between two snapshot
        reads; payload equality compares an md5 of the non-key struct, so
        the diff never widens beyond key + one hash column per side until
        the final projection.  Requires `keep_versions > steps_back`."""
        old = self.read_version(spark, steps_back)
        new = self.read_version(spark, 0)
        if old is None or new is None:
            return None
        val_cols = [c for c in new.columns if c not in self.keys]
        if not val_cols:  # keys-only table: membership diff, no updates
            o_k, n_k = old.select(*self.keys), new.select(*self.keys)
            return (
                n_k.exceptAll(o_k)
                .withColumn("_change_type", F.lit("insert"))
                .unionByName(
                    o_k.exceptAll(n_k).withColumn("_change_type", F.lit("delete"))
                )
            )
        sig = F.md5(F.to_json(F.struct(*val_cols)))
        old_s = old.select(*self.keys, sig.alias("__sig_o"), F.struct(*val_cols).alias("__row_o"))
        new_s = new.select(*self.keys, sig.alias("__sig_n"), F.struct(*val_cols).alias("__row_n"))
        j = old_s.join(new_s, self.keys, "full_outer")
        ins = j.filter(F.col("__sig_o").isNull()).select(
            *self.keys, F.col("__row_n").alias("__row"), F.lit("insert").alias("_change_type")
        )
        dele = j.filter(F.col("__sig_n").isNull()).select(
            *self.keys, F.col("__row_o").alias("__row"), F.lit("delete").alias("_change_type")
        )
        upd = j.filter(
            F.col("__sig_o").isNotNull()
            & F.col("__sig_n").isNotNull()
            & (F.col("__sig_o") != F.col("__sig_n"))
        )
        pre = upd.select(
            *self.keys, F.col("__row_o").alias("__row"),
            F.lit("update_preimage").alias("_change_type"),
        )
        post = upd.select(
            *self.keys, F.col("__row_n").alias("__row"),
            F.lit("update_postimage").alias("_change_type"),
        )
        out = ins.unionByName(dele).unionByName(pre).unionByName(post)
        return out.select(
            *self.keys,
            *[F.col(f"__row.{c}").alias(c) for c in val_cols],
            "_change_type",
        )

    def _commit(
        self,
        df: DataFrame,
        inherit: dict[str, str],
        flip: bool,
        expected_base: str | None,
        skip_empty: bool = False,
    ) -> str | None:
        """Crash-safe bucketed commit: write `df`'s rows partitioned by
        key-hash bucket into a fresh version dir, write the version's
        MANIFEST (rewritten buckets -> this version; `inherit` buckets ->
        their existing version dirs), flip the CURRENT pointer atomically
        (tmp file + os.replace), then GC version dirs no retained
        manifest references.  There is never a window with the table
        absent — a crash leaves either the old or the new version
        current, and an uncommitted version dir is invisible (HISTORY is
        appended only after the flip).

        ``expected_base``: the snapshot version (None for an absent
        table) the commit was computed against.  If CURRENT moved off it
        by flip time, the commit raises ``CommitConflictError`` instead
        of dropping the winner's buckets; ``flip=False`` stages the
        version, and sinks/txn.py makes the same check at its flip.

        ``skip_empty``: when the write produced no bucket at all, drop the
        build dir and return None instead of committing — the write itself
        is the emptiness check, so no caller pays a separate job for one."""
        # fail fast on an un-bloomable column type BEFORE any bytes are
        # written (the sidecar builder re-checks for direct callers)
        for bcol in self.bloom_cols:
            if bcol in df.columns:
                self._check_bloom_dtype(
                    bcol, df.schema[bcol].dataType.typeName())
        os.makedirs(self.path, exist_ok=True)
        v = f"v_{uuid.uuid4().hex[:12]}"
        vdir = os.path.join(self.path, v)
        # In-flight protection against a CONCURRENT writer's GC (an
        # in-progress version dir is referenced by no manifest yet;
        # observed as chmod-on-_temporary task failures under two
        # threads).  The dir is BUILT under a tmp_ name GC never looks
        # at — so there is no window where an unreferenced, unmarked
        # v_* dir is visible — with an _INPROGRESS marker inside from
        # birth, and atomically renamed to its v_* name only when fully
        # built (parquet + manifest).  The marker keeps protecting the
        # renamed dir until it is actually REFERENCED (CURRENT flip /
        # HISTORY, or the _STAGED sentinel for transactions); stale
        # tmp_ dirs and markers age out, so crash orphans still die.
        # The write uses append mode into the freshly-created dir so
        # Spark's overwrite cleanup cannot delete the marker.
        build_dir = os.path.join(self.path, f"tmp_{v}")
        os.makedirs(build_dir, exist_ok=True)
        marker_name = "_INPROGRESS"
        with open(os.path.join(build_dir, marker_name), "w") as fh:
            fh.write(str(int(time.time())))
        schema_json = df.schema.jsonValue()
        # shuffle by the bucket id BEFORE partitionBy: every row of a
        # bucket lands in one shuffle partition, so each bucket gets ONE
        # file (without it every task writes a file per bucket — tasks x
        # buckets small files, observed 4x slower streaming merges).  The
        # shuffle is by column, not to a fixed n_buckets partitions, so
        # AQE sizes the task count by the data: a 5-row batch writes from
        # one task, a large rewrite keeps the write parallel.
        try:
            df.withColumn("__b", self._bucket_expr()).repartition(
                "__b"
            ).write.mode("append").partitionBy("__b").parquet(build_dir)
        except Exception as e:  # noqa: BLE001
            # GC-under-reader conflict: a concurrent commit can supersede
            # the snapshot THIS write is reading and garbage-collect its
            # now-unreferenced version dirs mid-plan, surfacing as a
            # FILE/PATH_NOT_FOUND task failure before the flip-time OCC
            # check ever runs.  If CURRENT moved off our base, that IS a
            # commit conflict — convert it so compact()/rescale()/merge()
            # all fail with the same loud, retryable contract.
            if (
                self._current_version() != expected_base
                and any(
                    tag in str(e)
                    for tag in ("FILE_NOT_EXIST", "FileNotFound", "PATH_NOT_FOUND")
                )
            ):
                shutil.rmtree(build_dir, ignore_errors=True)
                raise CommitConflictError(
                    f"table {self.path}: snapshot {expected_base!r} was "
                    "superseded (and partially garbage-collected) during "
                    "this rewrite — re-read and retry"
                ) from e
            raise
        written = {
            d.split("=", 1)[1]
            for d in os.listdir(build_dir)
            if d.startswith("__b=")
        }
        if skip_empty and not written:
            shutil.rmtree(build_dir, ignore_errors=True)
            return None
        if self.bloom_cols and written:
            self._write_bloom_sidecars(df.sparkSession, build_dir, written)
        buckets = dict(inherit)
        buckets.update({b: v for b in written})
        # `base` is read back by sinks/txn.py when it flips a staged version
        man = {"n_buckets": self.n_buckets, "schema": schema_json,
               "buckets": buckets, "base": expected_base}
        if self.bloom_cols:
            man["bloom"] = {"cols": self.bloom_cols,
                            "bits": self.BLOOM_BITS, "k": self.BLOOM_K}
        with open(os.path.join(build_dir, "MANIFEST.json"), "w") as fh:
            json.dump(man, fh)
        if not flip:
            # STAGED (uncommitted) version: full data + manifest on disk,
            # CURRENT/HISTORY untouched (invisible to readers).  The
            # _STAGED sentinel closes the staging->TXN_INTENT window: a
            # normal commit interleaved before the journal lands would
            # otherwise GC this dir (it is referenced by no retained
            # manifest) and the later flip would point CURRENT at a
            # deleted dir.  GC skips sentinel'd dirs younger than
            # `staged_protect_s`; abandoned stages age out and die at a
            # later commit.  (Spark's parquet reader ignores '_'-prefixed
            # files, so the sentinel never pollutes reads.)
            with open(os.path.join(build_dir, "_STAGED"), "w") as fh:
                fh.write(str(int(time.time())))
            os.remove(os.path.join(build_dir, marker_name))
            os.rename(build_dir, vdir)  # first GC-visible state: sentinel'd
            return v
        os.rename(build_dir, vdir)  # first GC-visible state: marker'd
        if self._pending_txn_version() is not None:
            shutil.rmtree(vdir, ignore_errors=True)
            raise RuntimeError(
                f"table {self.path} has a pending cross-table transaction "
                "(TXN_INTENT in the warehouse root) — run TableTxn.recover() "
                "before committing, or this merge and the journaled batch "
                "would overwrite each other in recovery order"
            )
        if self._current_version() != expected_base:
            # another writer flipped CURRENT while this merge ran: our
            # inherited-bucket map references the superseded snapshot, so
            # flipping would silently drop the winner's buckets.  Abort
            # loud, Delta/Iceberg-style; the written dir is GC'd now.
            shutil.rmtree(vdir, ignore_errors=True)
            raise CommitConflictError(
                f"table {self.path}: snapshot {expected_base!r} was "
                f"superseded by {self._current_version()!r} during this "
                "merge — re-read and retry the batch"
            )
        tmp = f"{self._current_file()}.tmp_{v}"
        with open(tmp, "w") as fh:
            fh.write(v)
        # commit order: flip CURRENT first, append HISTORY after — a crash
        # in between leaves a committed version that _history self-heals,
        # never a phantom uncommitted snapshot in the time-travel chain
        os.replace(tmp, self._current_file())
        with open(self._history_file(), "a") as fh:
            fh.write(v + "\n")
        # the dir is CURRENT now (referenced) — protection no longer needed
        try:
            os.remove(os.path.join(vdir, marker_name))
        except OSError:
            pass
        retained_list = self._history()[-self.keep_versions:]
        # a version dir stays on disk while ANY retained manifest points a
        # bucket at it (untouched buckets are inherited across versions)
        referenced = set(retained_list) | {v}
        for r in retained_list:
            try:
                referenced.update(self._load_manifest(r)["buckets"].values())
            except FileNotFoundError:
                pass  # a concurrent writer's GC removed it after _history listed it
        for d in os.listdir(self.path):
            if d.startswith("v_") and d not in referenced:
                protected = False
                for mark in ("_STAGED", "_INPROGRESS"):
                    f = os.path.join(self.path, d, mark)
                    try:
                        if (
                            os.path.exists(f)
                            and time.time() - os.path.getmtime(f)
                            < self.staged_protect_s
                        ):
                            # staged for a cross-table publish, or a
                            # CONCURRENT writer's in-flight version dir —
                            # either way not ours to delete (crash
                            # orphans age out and die at a later commit)
                            protected = True
                            break
                    except OSError:
                        pass  # marker vanished underneath us: plain orphan
                if protected:
                    continue
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
            elif d.startswith("tmp_v_"):
                # crashed build dirs: invisible to readers, reclaimed once
                # their marker (or the dir itself) ages past the grace
                try:
                    if (
                        time.time()
                        - os.path.getmtime(os.path.join(self.path, d))
                        > self.staged_protect_s
                    ):
                        shutil.rmtree(
                            os.path.join(self.path, d), ignore_errors=True
                        )
                except OSError:
                    pass
        # compact HISTORY to the retained tail so per-merge metadata cost
        # stays O(keep_versions), not O(total merges ever)
        tmp_h = f"{self._history_file()}.tmp_{v}"
        with open(tmp_h, "w") as fh:
            fh.write("".join(n + "\n" for n in retained_list))
        os.replace(tmp_h, self._history_file())
        return v

    def _overwrite(self, df: DataFrame) -> None:
        """Full-snapshot commit: every bucket rewritten.  The base is
        captured HERE, so the conflict window covered is entry-to-flip;
        a replace() caller that read state earlier still owns the gap
        between its read and this call."""
        self._commit(df, inherit={}, flip=True, expected_base=self._current_version())

    def replace(self, df: DataFrame) -> None:
        """Full-snapshot overwrite for callers that have ALREADY computed
        the complete next state (e.g. a register-sketch merge that read +
        combined the previous snapshot itself) — skips merge()'s second
        state read and its guaranteed-empty anti-join.  Same crash-safe
        versioned commit as merge."""
        self._overwrite(df)

    def merge(
        self,
        spark: SparkSession,
        batch: DataFrame,
        deletes: DataFrame | None = None,
        _flip: bool = True,
        touched_buckets: set[str] | None = None,
    ) -> str | None:
        """MERGE: upsert `batch` rows by key (latest version wins within the
        batch), then remove keys present in `deletes`.  Returns the new
        version name — or, when the batch turns out to be empty, the
        unchanged current version (None for an absent table) with nothing
        committed (a staged merge still commits an empty version).
        Emptiness costs no job of its own: on an absent table the commit
        write finds no bucket written, on an existing one the
        touched-bucket probe finds none.  ``_flip=False`` stages the merge UNCOMMITTED (data +
        manifest written, CURRENT untouched) — the cross-table transaction
        path (`sinks/txn.py`) flips staged versions under an intent
        journal; use `prepare_merge` rather than passing the flag.

        ``touched_buckets``: precomputed bucket ids (stringified ints from
        this table's ``_bucket_expr()`` over the batch AND deletes keys) —
        callers that already ran a per-batch stats job (e.g. the trade
        pipeline's combined route/bucket probe) pass it to skip merge's
        own probe collect, cutting one driver job per merge.  Must cover
        every key the batch/deletes touch; extra ids only cost an
        unnecessary bucket rewrite, missing ids would corrupt the merge,
        so derive it with the same hash, never approximate it."""
        w_cols = [F.col(k) for k in self.keys]
        if self.version_col:
            # deterministic tiebreak: equal versions (e.g. Maxwell second-
            # granularity ts) fall back to comparing the remaining columns,
            # so the winner is stable run-to-run instead of partition-order
            rest = [
                c
                for c, dt in batch.dtypes
                if c not in self.keys and c != self.version_col and "map<" not in dt
            ]
            order = [F.col(self.version_col).desc()] + (
                [F.struct(*[F.col(c) for c in rest]).desc()] if rest else []
            )
            batch = (
                batch.withColumn(
                    "__rn",
                    F.row_number().over(Window.partitionBy(*w_cols).orderBy(*order)),
                )
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            batch = batch.dropDuplicates(self.keys)

        cur_version = self._current_version()
        if cur_version is None:
            merged = batch
            if deletes is not None:
                merged = merged.join(
                    deletes.select(*self.keys).distinct(), on=self.keys, how="left_anti"
                )
            # an empty first batch leaves the table absent (read() None);
            # a staged merge still commits — a transaction needs a
            # version name to journal
            return self._commit(
                merged, inherit={}, flip=_flip, expected_base=cur_version,
                skip_empty=_flip,
            )

        man = self._load_manifest(cur_version)
        incremental = (
            man["n_buckets"] == self.n_buckets
            and bool(self.keys)
            and sorted(
                (f["name"], f["type"]) if isinstance(f["type"], str) else (f["name"], json.dumps(f["type"]))
                for f in man["schema"]["fields"]
            )
            == sorted(
                (f["name"], f["type"]) if isinstance(f["type"], str) else (f["name"], json.dumps(f["type"]))
                for f in batch.schema.jsonValue()["fields"]
            )
        )
        if not incremental:
            # bucket-count change or schema evolution: one full rewrite
            # re-baselines every bucket on the new shape
            current = self._apply_ttl(self._read_snapshot(spark, cur_version))
            keep = current.join(batch.select(*self.keys), on=self.keys, how="left_anti")
            merged = keep.unionByName(batch, allowMissingColumns=True)
            if deletes is not None:
                merged = merged.join(
                    deletes.select(*self.keys).distinct(), on=self.keys, how="left_anti"
                )
            return self._commit(
                merged, inherit={}, flip=_flip, expected_base=cur_version
            )

        # incremental path: rewrite ONLY the buckets the batch (or the
        # deletes) touches; every other bucket is inherited by manifest
        # reference.  The touched-bucket probe is one tiny job bounded by
        # n_buckets output rows; the deduped batch is persisted across it
        # so its plan (window dedupe + micro-batch scan) is not executed a
        # second time by the commit write.
        persisted = touched_buckets is None
        if persisted:
            batch = batch.persist()
        try:
            if touched_buckets is not None:
                touched = {str(b) for b in touched_buckets}
            else:
                probe = batch.select(self._bucket_expr().alias("__b"))
                if deletes is not None:
                    probe = probe.unionByName(
                        deletes.select(self._bucket_expr().alias("__b"))
                    )
                touched = {str(r["__b"]) for r in probe.distinct().collect()}
            if not touched and _flip:
                # empty micro-batch: the probe (already paid for) proves
                # there is nothing to merge — skip the commit entirely, so
                # callers need no result.limit(1).count() pre-check of
                # their own (one driver job saved per quiet batch).  The
                # staged path (_flip=False) still commits: a transaction
                # needs a real version name to journal and flip.
                return cur_version
            cur_map = man["buckets"]
            stored = {b: cur_map[b] for b in touched if b in cur_map}
            if stored:
                cur_t = self._apply_ttl(self._read_buckets(spark, man, stored))
                keep = cur_t.join(
                    batch.select(*self.keys), on=self.keys, how="left_anti"
                )
                merged = keep.unionByName(batch)
            else:
                merged = batch
            if deletes is not None:
                merged = merged.join(
                    deletes.select(*self.keys).distinct(),
                    on=self.keys,
                    how="left_anti",
                )
            # normalize column ORDER to the stored schema: the anti-joins
            # above are USING-joins, which move key columns to the front,
            # and a version whose files order columns differently from
            # inherited buckets would make the multi-path read's schema
            # nondeterministic
            merged = merged.select(*[f["name"] for f in man["schema"]["fields"]])
            inherit = {b: ver for b, ver in cur_map.items() if b not in touched}
            return self._commit(
                merged, inherit=inherit, flip=_flip, expected_base=cur_version
            )
        finally:
            if persisted:
                batch.unpersist()

    def merge_with_retry(
        self,
        spark: SparkSession,
        batch: DataFrame,
        deletes: DataFrame | None = None,
        max_retries: int = 5,
    ) -> str | None:
        """MERGE with the standard optimistic-concurrency retry loop: on
        `CommitConflictError` re-read the (now newer) snapshot and merge
        again — upserts commute across writers touching different keys,
        and same-key conflicts resolve last-writer-wins by version_col
        exactly as a single writer's repeated merges would.  Raises after
        ``max_retries`` losses (pathological contention should be loud,
        not an unbounded spin)."""
        last: Exception | None = None
        for _attempt in range(max_retries + 1):
            base = self._current_version()
            try:
                return self.merge(spark, batch, deletes)
            except CommitConflictError as e:
                last = e
            except Exception as e:  # noqa: BLE001
                # a winner's GC can delete the superseded snapshot's
                # files UNDER the loser's in-flight plan (keep_versions=1
                # retains no grace snapshot), surfacing as a
                # FAILED_READ_FILE before the flip's own conflict check
                # runs.  If CURRENT moved, that IS a commit conflict —
                # retry against the fresh snapshot.  (Long-running
                # concurrent readers should set keep_versions >= 2, the
                # same retention lever Delta/Iceberg expose.)
                moved = self._current_version() != base
                if moved and any(
                    tag in str(e)
                    for tag in ("FILE_NOT_EXIST", "FileNotFound", "PATH_NOT_FOUND")
                ):
                    # PATH_NOT_FOUND: the whole superseded version dir was
                    # rmtree'd before our read even listed it
                    last = e
                else:
                    raise
            # adopt the winner's (possibly rescaled) layout before
            # retrying, like a fresh open would
            cur = self._current_version()
            if cur is not None:
                self.n_buckets = int(self._load_manifest(cur)["n_buckets"])
        assert last is not None
        raise last

    def prepare_merge(
        self, spark: SparkSession, batch: DataFrame, deletes: DataFrame | None = None
    ) -> str:
        """Stage a merge without committing: full merge computation, data
        + manifest written as an uncommitted version, CURRENT untouched.
        Returns the version name for `sinks/txn.TableTxn` to flip."""
        return self.merge(spark, batch, deletes, _flip=False)

    def compact(self, spark: SparkSession) -> None:
        """Eager physical cleanup: rewrite every bucket through the TTL
        filter (and drop inherited references), reclaiming expired rows'
        bytes now instead of at the next touch of their bucket.  OCC:
        the base is captured before the read, so a concurrent merge
        landing mid-rewrite raises instead of being silently dropped."""
        base = self._current_version()
        current = self.read(spark)
        if current is not None:
            self._commit(current, inherit={}, flip=True, expected_base=base)

    def rescale(self, spark: SparkSession, n_buckets: int) -> None:
        """Re-bucket the table to ``n_buckets`` (one full rewrite); later
        merges are incremental against the new layout.  The growth path
        for state that outlives its initial bucket count — the same
        operation Iceberg's bucket-transform evolution or a Kafka topic
        repartition performs."""
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        base = self._current_version()  # OCC, as in compact()
        current = self.read(spark)
        self.n_buckets = int(n_buckets)
        if current is not None:
            self._commit(current, inherit={}, flip=True, expected_base=base)

    def maybe_rescale(
        self, spark: SparkSession, max_rows_per_bucket: int = 1_000_000
    ) -> int:
        """Maintenance hook: if the average bucket now holds more than
        ``max_rows_per_bucket`` rows, grow the bucket count to the next
        power of two that brings it back under — O(touched) merges stay
        O(touched) as state grows 100x.  One count job; call it from the
        same cadence as compact().  Returns the (possibly new) count."""
        current = self.read(spark)
        if current is None:
            return self.n_buckets
        n = current.count()
        if n > self.n_buckets * max_rows_per_bucket:
            target = self.n_buckets
            while n > target * max_rows_per_bucket:
                target *= 2
            self.rescale(spark, target)
        return self.n_buckets

    def lookup(self, spark: SparkSession, key_values: list[tuple]) -> DataFrame | None:
        """Point lookups via bucket pruning: compute each key's bucket
        driver-side (same hash the writer used), read ONLY those
        buckets' leaf dirs, and filter to the exact keys — a point read
        touches 1/n_buckets of the table instead of scanning it.  This
        is the serving-side payoff of the bucketed layout (the dim
        `getRowOf` / HBase point-GET shape, HBaseUtil.java:151-185).

        ``key_values``: list of tuples matching ``self.keys`` order
        (bare values accepted for single-column keys).  Returns None on
        an empty table; TTL applies as in read()."""
        v = self._current_version()
        if v is None or not self.keys:
            return self.read(spark)
        man = self._load_manifest(v)
        kvs = [kv if isinstance(kv, tuple) else (kv,) for kv in key_values]
        # one tiny local job hashes the literal keys with the SAME
        # expression the writer used — never re-derive F.hash in Python,
        # where seed/semantics could drift.  Key types come from the
        # manifest's stored schema (already on disk) — a snapshot read
        # here would open every bucket's footer and defeat the point-read
        # cost model.
        ftypes = {
            f["name"]: (f["type"] if isinstance(f["type"], str) else "string")
            for f in man["schema"]["fields"]
        }
        probe = spark.createDataFrame(
            kvs, ", ".join(f"{k} {ftypes[k]}" for k in self.keys)
        )
        buckets = {
            str(r["__b"])
            for r in probe.select(self._bucket_expr().alias("__b")).collect()
        }
        df = self._apply_ttl(self._read_buckets(
            spark, man, {b: ver for b, ver in man["buckets"].items() if b in buckets}))
        cond = None
        for kv in key_values:
            kv = kv if isinstance(kv, tuple) else (kv,)
            one = None
            for k, val in zip(self.keys, kv):
                c = F.col(k) == F.lit(val)
                one = c if one is None else (one & c)
            cond = one if cond is None else (cond | one)
        return df.filter(cond) if cond is not None else df


def upsert_kafka_records(df: DataFrame, keys: list[str], tombstone_when=None) -> DataFrame:
    """Render a changelog batch as upsert-kafka wire records:
    key = JSON of PK columns, value = JSON of the row (NULL for tombstones)
    — exactly the contract the reference's upsert-kafka DDL declares
    (SQLUtil.java:55-63, PK at DwdTradeOrderDetail.java:86)."""
    key = F.to_json(F.struct(*[F.col(k) for k in keys]))
    value = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    if tombstone_when is not None:
        value = F.when(tombstone_when, F.lit(None).cast("string")).otherwise(value)
    return df.select(key.alias("key"), value.alias("value"))
