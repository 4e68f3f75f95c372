"""Text analysis operators for large-scale training-data pipelines.

Extends the reference's planned keyword-tokenizer surface (X13 — the IK
analyzer dep at pom.xml:203-207 implies the classic gmall KeywordUDTF) into
a full text toolkit: tokenization, language ID, quality scoring, token
counting, fingerprinting.

Everything is built-in Column expressions (split / filter / aggregate
lambdas) — JVM-side, codegen-friendly, no Python UDFs in the hot path, so
the same code runs per-partition-parallel over 100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic.  Deterministic and engine-portable (the DuckDB oracle uses the
# same lists — see plans/catalog.py).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "un", "est", "pour", "que", "dans", "sur"],
    "zh": ["de", "le", "shi", "zai", "you", "wo", "ta", "men", "zhe", "na"],
}

# BPE-ish pre-tokenizer regex: runs of letters, runs of digits, or a single
# non-alphanumeric symbol.  Kept RE2/Java-portable for the oracle.
BPE_REGEX = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

MOD = 1_000_000_007


def tokenize(col: Column | str) -> Column:
    """X13 — whitespace tokenizer (the engine's UDTF-equivalent: array +
    explode, SURVEY §2.9)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), r"\s+")


# Java regex for a run of Han (CJK ideograph) characters; the DuckDB
# oracle's RE2 spelling is \p{Han} — same character class.
CJK_RUN = r"\p{IsHan}+"


def tokenize_keywords(col: Column | str) -> Column:
    """X13 — CJK-aware keyword tokenizer (the reference's planned IK
    *Chinese* analyzer UDTF: ik-analyzer dep at pom.xml:203-207 feeding
    KeywordUDTF / dws_traffic_source_keyword_page_view_window,
    Constant.java:40).

    Chinese search strings have no spaces, so whitespace splitting alone
    degenerates to one "keyword" per query.  Here each Han run is
    segmented into overlapping character bigrams (the classic CJK
    fallback that IK's fine-grained mode approximates; single-char runs
    pass through), while non-Han tokens remain whitespace-split.  Pure
    Column expressions — JVM-side codegen, no Python in the hot path —
    and exactly mirrored by the DuckDB oracle (plans/catalog.py
    `x13_cjk_keyword_count`).

    For dictionary-based segmentation (closer to ik_smart), see
    `tokenize_keywords_jieba` — optional, import-gated.
    """
    c = F.col(col) if isinstance(col, str) else col
    spaced = F.regexp_replace(F.lower(F.trim(c)), f"({CJK_RUN})", " $1 ")
    toks = F.filter(F.split(F.trim(spaced), r"\s+"), lambda t: F.length(t) > 0)
    return F.flatten(
        F.transform(
            toks,
            lambda t: F.when(
                t.rlike(f"^{CJK_RUN}$") & (F.length(t) >= 2),
                F.transform(
                    F.sequence(F.lit(1), F.length(t) - 1),
                    lambda i: t.substr(i, F.lit(2)),
                ),
            ).otherwise(F.array(t)),
        )
    )


def tokenize_keywords_jieba(col: Column | str) -> Column:
    """Dictionary-based Chinese segmentation via jieba (optional dep) —
    the closest match to the reference's ik_smart mode.  Arrow-batched
    pandas UDF (never row-at-a-time); raises ImportError with guidance
    when jieba is absent (this container ships without it, so the tested
    default is `tokenize_keywords`' bigram fallback)."""
    try:
        import jieba  # noqa: F401
    except ImportError as e:  # pragma: no cover - jieba absent in CI image
        raise ImportError(
            "jieba is not installed; use tokenize_keywords() (CJK bigram "
            "fallback) or install jieba for dictionary segmentation"
        ) from e

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def seg(s: pd.Series) -> pd.Series:  # pragma: no cover - needs jieba
        import jieba

        return s.map(
            lambda x: [t for t in jieba.lcut(str(x).strip().lower()) if t.strip()]
        )

    c = F.col(col) if isinstance(col, str) else col
    return seg(c)


def tokenize_keywords_dict(col: Column | str, dictionary: list[str] | None = None) -> Column:
    """Dictionary-based Chinese segmentation by forward maximum matching
    (FMM) — the greedy longest-word-first algorithm ik_smart and jieba's
    dictionary pass approximate.  Testable without external deps: the
    default word list is the vendored ~900-entry general + e-commerce
    vocabulary (`data.zh_vocab.ZH_VOCAB`; jieba ships ~350k entries —
    same plumbing, bigger table); callers can supply their own.

    Semantics match `tokenize_keywords_jieba`'s output contract
    (array<string> of lowercased words): Han runs are segmented
    longest-match-first against the dictionary with single-character
    fallback for out-of-vocabulary spans; non-Han text stays
    whitespace-split.  Arrow-batched pandas UDF (the dictionary closes
    over the UDF and ships to workers once per task, not per row).
    """
    import re

    from pyspark.sql.functions import pandas_udf

    if dictionary is None:
        from ..data.zh_vocab import ZH_VOCAB

        dictionary = list(ZH_VOCAB)
    vocab = {w.strip().lower() for w in dictionary if w.strip()}
    max_len = max((len(w) for w in vocab), default=1)
    # BMP Han block — the practical subset of CJK_RUN's \p{IsHan}
    han_re = re.compile(r"[一-鿿]+")

    def fmm(run: str) -> list[str]:
        out, i = [], 0
        while i < len(run):
            for ln in range(min(max_len, len(run) - i), 1, -1):
                if run[i : i + ln] in vocab:
                    out.append(run[i : i + ln])
                    i += ln
                    break
            else:
                out.append(run[i])
                i += 1
        return out

    def seg_text(x) -> list[str]:
        toks: list[str] = []
        for part in str(x).strip().lower().split():
            pos = 0
            for m in han_re.finditer(part):
                if m.start() > pos:
                    toks.append(part[pos : m.start()])
                toks.extend(fmm(m.group()))
                pos = m.end()
            if pos < len(part):
                toks.append(part[pos:])
        return [t for t in toks if t]

    # hint-free form: `from __future__ import annotations` stringifies
    # type hints, and pandas_udf cannot resolve 'pd.Series' against this
    # module's globals (pandas is imported lazily here).  na_action keeps
    # NULL input NULL (matching tokenize_keywords' null propagation)
    # instead of str(None) becoming a phantom 'none' token.
    seg = pandas_udf(lambda s: s.map(seg_text, na_action="ignore"), "array<string>")

    c = F.col(col) if isinstance(col, str) else col
    return seg(c)


def token_count_ws(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokenize(col))


def token_count_bpe(col: Column | str) -> Column:
    """BPE-ish token count via regex pre-tokenization."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_REGEX), F.lit(0)))


def stopword_hits(tokens: Column, words: list[str]) -> Column:
    """Occurrence count of tokens from a wordlist (not distinct)."""
    lit = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(lit, t)))


def lang_id(col: Column | str) -> Column:
    """Language-ID heuristic: argmax stopword-hit score, lexicographic
    tiebreak, 'und' (undetermined) when all scores are 0."""
    toks = tokenize(col)
    pairs = F.array(
        *[
            F.struct(
                stopword_hits(toks, ws).alias("score"), F.lit(lang).alias("lang")
            )
            for lang, ws in sorted(LANG_STOPWORDS.items())
        ]
    )
    # argmax via fold: strictly-greater keeps the lexicographically-first
    # language on ties (languages visited in sorted order)
    return F.aggregate(
        pairs,
        F.struct(F.lit(-1).alias("score"), F.lit("und").alias("lang")),
        lambda acc, p: F.when(
            (p["score"] > acc["score"]), F.struct(p["score"].alias("score"), p["lang"].alias("lang"))
        ).otherwise(acc),
        lambda acc: F.when(acc["score"] > 0, acc["lang"]).otherwise(F.lit("und")),
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length / word stats / stopword ratio — the standard
    pre-training quality filters, computed columnar."""
    toks = tokenize(text_col)
    n_tok = F.size(toks)
    n_char = F.length(F.col(text_col))
    en_hits = stopword_hits(toks, LANG_STOPWORDS["en"])
    return df.withColumns(
        {
            "n_tokens": n_tok,
            "n_chars_m": n_char,
            "avg_token_len": F.round((n_char - (n_tok - 1)) / n_tok, 4),
            "stopword_ratio": F.round(en_hits / n_tok, 4),
            "is_quality": (
                (n_tok >= 10) & ((n_char - (n_tok - 1)) / n_tok >= 3)
            ).cast("int"),
        }
    )


def doc_fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 over whitespace-normalized lowercase text.

    md5 is engine-portable (identical hex in Spark and DuckDB), so exact
    dedup on the fingerprint is oracle-checkable; the polynomial rolling
    hash variant is `rolling_hash` below.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.concat_ws(" ", tokenize(c)))


def rolling_hash(col: Column | str) -> Column:
    """Polynomial rolling hash over characters: h = (h*31 + ascii(ch)) % p.

    Pure fold via ``aggregate`` — stays JVM-side.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        F.split(c, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % MOD,
    )


# --- PII scrubbing + URL surface (pre-training curation passes) ----------
# Patterns are RE2-and-Java-portable (no backrefs/lookaround), so the
# DuckDB oracle applies literally the same strings.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9][0-9()\-\s.]{7,}[0-9]"
URL_REGEX = r"https?://[^\s]+"
URL_DOMAIN = r"https?://([^/\s]+)"


def scrub_pii(col: Column | str) -> Column:
    """Replace emails then phone-number shapes with typed placeholders —
    the standard pre-training PII pass, pure `regexp_replace` chain
    (JVM codegen, no UDF).  Order matters: emails first, so the phone
    pattern never eats digits inside an already-replaced span."""
    c = F.col(col) if isinstance(col, str) else col
    scrubbed = F.regexp_replace(c, PII_EMAIL, "<EMAIL>")
    return F.regexp_replace(scrubbed, PII_PHONE, "<PHONE>")


def extract_urls(col: Column | str) -> Column:
    """All http(s) URLs in the text as an array."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(URL_REGEX), F.lit(0))


def url_domain(url: Column) -> Column:
    """Host part of a URL (group 1 of URL_DOMAIN)."""
    return F.regexp_extract(url, URL_DOMAIN, 1)


# --- vocabulary / frequency surface (tokenizer-training prep) ------------

def token_counts(
    df: DataFrame, text_col: str = "text", extra_keys: list[str] | None = None
) -> DataFrame:
    """(token, cnt) corpus term frequencies (plus optional grouping keys,
    e.g. a language column): explode via the InferFilters-safe path, then
    ONE map-side-combinable shuffle.  Empty-string tokens (blank docs)
    are dropped."""
    from .split import explode_computed

    spark_parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < spark_parallelism:
        df = df.repartition(spark_parallelism)
    keys = list(extra_keys or [])
    toks = explode_computed(df, keys, tokenize(text_col), "token")
    return (
        toks.filter(F.col("token") != "")
        .groupBy(*keys, "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def vocab_build(df: DataFrame, text_col: str = "text", min_count: int = 1) -> DataFrame:
    """Frequency-ranked vocabulary: (token, cnt, token_id) with contiguous
    1-based ids in (cnt DESC, token ASC) order — what a tokenizer trainer
    or embedding table wants.

    Scale design: counting is one combinable shuffle; the global id
    assignment uses `sampling.global_rank`'s distributed prefix sum, so
    a 100M-token vocabulary never funnels through a single-partition
    window."""
    from .sampling import global_rank

    counts = token_counts(df, text_col)
    if min_count > 1:
        counts = counts.filter(F.col("cnt") >= min_count)
    return global_rank(
        counts,
        order_cols=[F.col("cnt").desc(), F.col("token").asc()],
        range_cols=[F.col("cnt").desc(), F.col("token").asc()],
        out_col="token_id",
    ).select("token", "cnt", "token_id")


def top_tokens_by_group(
    df: DataFrame,
    group_col: Column | str,
    text_col: str = "text",
    k: int = 10,
    salt_buckets: int = 64,
) -> DataFrame:
    """Exact top-k tokens per group (e.g. per language): (group, token,
    cnt, rnk <= k).

    A single `Window.partitionBy(group)` puts EVERY distinct token of a
    group through one task — with billions of distinct tokens per
    language at corpus scale, that is the classic skewed-window
    bottleneck.  Instead: two-phase exact top-k — tokens are salted into
    `salt_buckets` sub-partitions, each sub-partition keeps its local
    top-k (a bucket holds each token's TOTAL count, since the salt is a
    hash of the token itself), and the final window ranks only the
    <= salt_buckets*k survivors per group."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    counts = token_counts(df.withColumn("_grp", g), text_col, extra_keys=["_grp"])
    salt = F.pmod(F.xxhash64("token"), F.lit(salt_buckets))
    order = [F.col("cnt").desc(), F.col("token").asc()]
    w_local = Window.partitionBy("_grp", "_salt").orderBy(*order)
    w_final = Window.partitionBy("_grp").orderBy(*order)
    return (
        counts.withColumn("_salt", salt)
        .withColumn("_lrnk", F.row_number().over(w_local))
        .filter(F.col("_lrnk") <= k)
        .withColumn("rnk", F.row_number().over(w_final))
        .filter(F.col("rnk") <= k)
        .select(F.col("_grp").alias("grp"), "token", "cnt", "rnk")
    )


def tfidf_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-k tf-idf keywords per document: (doc_id, token, tf, rnk).

    Uses LINEAR idf (tf * N/df) ranked through scaled integer division
    (`tf * N * 1_000_000 div df`) — order-equivalent to tf/df, and exact
    integer arithmetic means both engines rank identically (log-idf's
    last-ulp differences can flip ranks across engines).

    Scale shape: tf is one (doc, token) combinable shuffle; df comes
    from an unordered count over a token-partitioned window — the
    corpus-wide distinct-token table is never a join build side (it is
    NOT broadcastable at 100 TB), and an unordered count window needs no
    sort, only the token shuffle; N is a 1-row broadcast; the final
    window partitions by doc — a document's distinct tokens always fit
    one task.
    """
    tf = token_counts(df.select(F.col(id_col).alias("doc_id"), text_col),
                      text_col, extra_keys=["doc_id"]).withColumnRenamed("cnt", "tf")
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    score = F.expr("tf * n_docs * 1000000 div df")
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("token")))
        .join(F.broadcast(n_docs))
        .withColumn("score", score)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "token", "tf", "rnk")
    )


def boilerplate_ratio(
    docs: DataFrame,
    min_docs: int = 20,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-common shingle exposure per document (RefinedWeb/CCNet-style
    boilerplate signal): the fraction of a document's distinct word
    n-shingles that occur in >= `min_docs` documents corpus-wide.  High
    ratios mark template/boilerplate text that survives within-document
    repetition checks because the repetition lives ACROSS documents.

    Scale shape: explode to an inverted (doc, shingle) index; shingle
    frequency is one map-side-combinable groupBy; the common-shingle join
    shuffles on the same shingle key (co-partitioned with the aggregate
    output), then one groupBy on doc_id.  No broadcast of the shingle
    domain, no all-pairs anything — linear in corpus size at any SF.
    """
    from . import dedup

    sh = docs.select(
        F.col(id_col).alias("doc_id"), dedup.shingles(text_col, n).alias("s")
    ).filter(F.size("s") > 0)
    inv = sh.select("doc_id", F.explode("s").alias("shingle"))
    common = (
        inv.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_cnt"))
        .filter(F.col("df_cnt") >= min_docs)
        .select("shingle")
    )
    n_common = (
        inv.join(common, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        sh.select("doc_id", F.size("s").cast("long").alias("n_shingles"))
        .join(n_common, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
        )
        .withColumn(
            "boilerplate_ratio", F.round(F.col("n_common") / F.col("n_shingles"), 4)
        )
    )


def shingle_novelty(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-novelty score: the fraction of a document's distinct word
    n-shingles whose FIRST corpus occurrence (by ascending id — ingestion
    order) is this document.  Low novelty == the document mostly restates
    earlier content; the streaming-friendly cousin of pairwise dedup that
    needs no pair join at all.

    Scale shape: inverted (doc, shingle) index; first-occurrence is one
    map-side-combinable min() groupBy on shingle; the membership join
    shuffles on the same key; then one groupBy on doc_id.  Linear, no
    pair explosion, no broadcast of the shingle domain."""
    from . import dedup

    sh = docs.select(
        F.col(id_col).alias("doc_id"), dedup.shingles(text_col, n).alias("s")
    ).filter(F.size("s") > 0)
    inv = sh.select("doc_id", F.explode("s").alias("shingle"))
    first = inv.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    n_novel = (
        inv.join(first, "shingle")
        .filter(F.col("doc_id") == F.col("first_doc"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        sh.select("doc_id", F.size("s").cast("long").alias("n_shingles"))
        .join(n_novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        )
        .withColumn("novelty_ratio", F.round(F.col("n_novel") / F.col("n_shingles"), 4))
    )


# --- LM-based quality filtering / data selection -------------------------

def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style LM quality score: per-document cross-entropy under the
    corpus's own unigram language model (add-1 smoothed).

    CCNet (Wenzek et al. 2020) ranks CommonCrawl documents by the
    perplexity of a KenLM model — low-perplexity ≈ fluent, in-domain;
    high ≈ boilerplate/garbage — and keeps the best tercile.  The
    distributed shape: one corpus term-frequency aggregation (token-keyed,
    map-combinable), one per-doc term-frequency aggregation, then a
    token-keyed shuffle join between them — the vocabulary is never
    broadcast or collected, so an open-vocabulary 100 TB corpus streams
    through three shuffles total.  Blank documents (no tokens) drop out.

    Returns (id_col, n_tokens, xent) with xent = -(1/n)·Σ tf·log2 p̂(tok)
    rounded to 4 decimals (p̂ = (cnt+1)/(total+|V|)).
    """
    from .split import explode_computed

    tk = explode_computed(
        df.select(id_col, text_col), [id_col], tokenize(text_col), "token"
    ).filter(F.col("token") != "")
    corpus = tk.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    totals = corpus.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("v")
    )
    doc_tf = tk.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    joined = doc_tf.join(corpus, "token").crossJoin(F.broadcast(totals))
    ll = F.sum(
        F.col("tf")
        * F.log2((F.col("cnt") + 1) / (F.col("total") + F.col("v")))
    )
    return (
        joined.groupBy(id_col)
        .agg(F.sum("tf").alias("n_tokens"), ll.alias("__ll"))
        .select(
            id_col,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(-F.col("__ll") / F.col("n_tokens"), 4).alias("xent"),
        )
    )


def _hashed_ngram_features(
    df: DataFrame, id_col: str, text_col: str, m: int
) -> DataFrame:
    """(id, bucket) rows: whitespace unigrams + adjacent bigrams hashed
    into ``m`` md5 buckets (DSIR's feature space).  One row per feature
    OCCURRENCE — repeated features weigh repeatedly, per the paper."""
    from .split import explode_computed

    toks = tokenize(text_col)
    # adjacent bigrams via zip_with over two shifted slices.  The lambda
    # references ONLY its own arguments — a lambda capturing the outer
    # token array (e.g. element_at(toks, i) over a sequence) re-evaluates
    # the whole split() tree per element in the interpreted higher-order
    # path: O(len²) tokenization, measured 24 s vs ~1 s at sf0.1.  Slices
    # of length size-1 are empty for single-token docs, so no
    # descending-sequence guard is needed.
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    grams = F.concat(toks, bigrams)
    feats = explode_computed(
        df.select(id_col, text_col), [id_col], grams, "feat"
    ).filter(F.col("feat") != "")
    bucket = F.conv(F.substring(F.md5("feat"), 1, 6), 16, 10).cast("long") % m
    return feats.select(id_col, bucket.alias("bucket"))


def dsir_logweights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m: int = 4096,
) -> DataFrame:
    """DSIR (Xie et al. 2023, arXiv:2302.03169) importance log-weights
    for data selection: score every raw document by how much more likely
    its hashed-n-gram features are under the TARGET distribution than
    under the RAW distribution; resampling raw data ∝ exp(weight) shifts
    the corpus toward the target domain.

    log w(doc) = Σ_f∈doc [log p̂_target(f) − log p̂_raw(f)], add-1
    smoothed over the m hash buckets.  Scale shape: both distributions
    are m-row tables (m = 4096 default), so the per-doc scoring join is a
    BROADCAST of 2·m log-ratios against the exploded feature stream —
    the only corpus-sized exchanges are the two bucket-count
    aggregations, both map-combinable.
    """
    raw_f = _hashed_ngram_features(raw, id_col, text_col, m)
    tgt_f = _hashed_ngram_features(target, id_col, text_col, m)
    # Reduce the raw feature stream ONCE to per-(doc, bucket) counts
    # (r13): `raw_f` feeds both the global raw distribution and the
    # per-doc scoring join, and Catalyst re-executed the whole
    # tokenize+bigram explode for each.  The (doc, bucket) rollup is the
    # common reduction — the global counts are its second-level
    # aggregate (sum of tf), and the per-doc score is Σ tf·log_ratio ==
    # the per-occurrence sum (tf is exact; the oracle already tolerates
    # FP summation-order differences at the rounded 4th decimal).  The
    # rollup shuffles (doc, bucket) keyed partial counts — strictly
    # fewer rows than the raw occurrence stream — and one lazy
    # localCheckpoint serves both consumers.
    raw_db = (
        raw_f.groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    raw_c = raw_db.groupBy("bucket").agg(F.sum("tf").alias("r_cnt"))
    tgt_c = tgt_f.groupBy("bucket").agg(F.count(F.lit(1)).alias("t_cnt"))
    rt = raw_c.agg(F.sum("r_cnt").alias("r_total"))
    tt = tgt_c.agg(F.sum("t_cnt").alias("t_total"))
    ratios = (
        raw_c.join(tgt_c, "bucket", "full")
        .crossJoin(F.broadcast(rt))
        .crossJoin(F.broadcast(tt))
        .select(
            "bucket",
            (
                F.log((F.coalesce("t_cnt", F.lit(0)) + 1) / (F.col("t_total") + m))
                - F.log((F.coalesce("r_cnt", F.lit(0)) + 1) / (F.col("r_total") + m))
            ).alias("log_ratio"),
        )
    )
    return (
        raw_db.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_features"),
            F.round(F.sum(F.col("tf") * F.col("log_ratio")), 4).alias("log_weight"),
        )
    )


def gopher_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The WELL-FORMEDNESS half of the Gopher document-quality ruleset
    (Rae et al. 2021, arXiv:2112.11446 Table A1) plus the duplicate-line
    and top-2-gram repetition signals.  `gopher_pass` ANDs exactly the
    thresholds listed below — NOT the paper's full filter: the stop-word
    rule, top 3-/4-gram char fractions, duplicate line/paragraph CHAR
    fractions, and duplicate 5..10-gram coverage live in
    `gopher_repetition`, and the complete Table A1 gate is the AND of
    both (`text_gopher_full` in the catalog).

    Computed columns (all deterministic, rounded to 4 decimals):
      n_words, mean_word_len     — word count, mean word length
      symbol_word_ratio          — '#' and '...' occurrences per word
      bullet_line_frac           — lines starting with a bullet
      ellipsis_line_frac         — lines ending with an ellipsis
      alpha_word_frac            — words containing ≥1 [a-z] char
      dup_line_frac              — 1 − distinct/total lines
      top2gram_char_frac         — chars covered by the most frequent
                                   word 2-gram (ties → lexicographically
                                   greatest gram; 0 when no bigrams)
      gopher_pass                — AND of the paper's thresholds

    Shape: everything except top2gram_char_frac is per-row array
    calculus (higher-order functions whose lambdas reference only their
    own arguments — no captured-array re-evaluation); the 2-gram stage
    is one explode + two map-combinable aggregations keyed by doc."""
    from .split import explode_computed

    # drop phantom '' tokens (blank docs) and the phantom empty line a
    # trailing newline would create — both would skew every denominator
    toks = F.filter(tokenize(text_col), lambda t: t != "")
    lines = F.split(F.regexp_replace(F.col(text_col), r"\n+$", ""), "\n")
    base = df.select(
        id_col,
        text_col,
        toks.alias("tk"),
        lines.alias("ln"),
        F.length(text_col).alias("nc"),
    )
    n_words = F.size("tk")
    # denominator guard: a zero-token doc divides by 1 (stats 0, fails
    # the n_words >= 50 gate anyway) instead of yielding NULLs whose
    # CASE/boolean semantics diverge between engines
    w_den = F.greatest(n_words, F.lit(1))
    sum_len = F.aggregate(
        "tk", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_hash = (F.length(text_col) - F.length(F.replace(text_col, F.lit("#"), F.lit("")))).cast("long")
    n_ell = F.floor(
        (F.length(text_col) - F.length(F.replace(text_col, F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    n_lines = F.size("ln")
    bullet = F.size(F.filter("ln", lambda x: F.trim(x).startswith("- ") | F.trim(x).startswith("* ")))
    ell_end = F.size(F.filter("ln", lambda x: F.rtrim(x).endswith("...")))
    alpha = F.size(F.filter("tk", lambda x: x.rlike("[a-z]")))
    stats = base.select(
        id_col,
        F.col("nc"),
        n_words.cast("long").alias("n_words"),
        F.round(sum_len / w_den, 4).alias("mean_word_len"),
        F.round((n_hash + n_ell) / w_den, 4).alias("symbol_word_ratio"),
        F.round(bullet / n_lines, 4).alias("bullet_line_frac"),
        F.round(ell_end / n_lines, 4).alias("ellipsis_line_frac"),
        F.round(alpha / w_den, 4).alias("alpha_word_frac"),
        F.round(1 - F.size(F.array_distinct("ln")) / n_lines, 4).alias("dup_line_frac"),
    )
    # greatest(…, 0): the filtered token array CAN be empty (whitespace-
    # only doc), and slice rejects a negative length
    n_bi = F.greatest(F.size("tk") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(F.col("tk"), 1, n_bi),
        F.slice(F.col("tk"), 2, n_bi),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    big = explode_computed(base, [id_col], bigrams, "g").filter(F.col("g") != " ")
    top2 = (
        big.groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(F.max(F.struct("cnt", "g")).alias("top"))
        .select(id_col, F.col("top.cnt").alias("t_cnt"), F.col("top.g").alias("t_g"))
    )
    out = (
        stats.join(top2, id_col, "left")
        .select(
            id_col,
            "n_words", "mean_word_len", "symbol_word_ratio",
            "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
            "dup_line_frac",
            F.coalesce(
                F.when(
                    F.col("nc") > 0,
                    F.round(F.col("t_cnt") * F.length("t_g") / F.col("nc"), 4),
                ),
                F.lit(0.0),
            ).alias("top2gram_char_frac"),
        )
    )
    gopher_pass = (
        (F.col("n_words") >= 50) & (F.col("n_words") <= 100_000)
        & (F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("dup_line_frac") <= 0.3)
        & (F.col("top2gram_char_frac") <= 0.2)
    )
    return out.withColumn("gopher_pass", gopher_pass.cast("int"))


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned BPE merge table: encode each document into
    subword tokens (the GPT-2 byte-pair algorithm over word-internal
    character symbols, with '</w>' closing each word).

    The merge RANKING comes from the corpus statistic the engine already
    computes distributed (`text_bpe_pair_counts` per iteration); this
    operator is the APPLY side: per word, repeatedly merge the
    lowest-rank adjacent pair until none applies.  The loop is
    inherently per-word sequential, so it runs as an Arrow-batched
    pandas UDF — the merge dict closes over the UDF and ships once per
    task; a per-batch word-level memo dedupes repeated words (Zipf makes
    the hit rate high).  No SQL twin exists for the fixpoint loop, so
    coverage is golden tests (hand-checked encodings) + the rows-only
    driver check.

    Returns (id, bpe_tokens array<string>, n_bpe_tokens)."""
    from pyspark.sql.functions import pandas_udf

    ranks = {pair: i for i, pair in enumerate(merges)}

    def enc_word(word: str, memo: dict) -> list:
        got = memo.get(word)
        if got is not None:
            return got
        # word arrives WITHOUT the marker; symbols = chars + closing '</w>'
        syms = list(word) + ["</w>"]
        while len(syms) > 1:
            best, best_rank = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = i, r
            if best is None:
                break
            syms = syms[:best] + [syms[best] + syms[best + 1]] + syms[best + 2:]
        memo[word] = syms
        return syms

    @pandas_udf("array<string>")
    def enc(s):  # pd.Series -> pd.Series
        memo: dict = {}
        return s.map(
            lambda x: [
                t
                for w in str(x).strip().lower().split()
                for t in enc_word(w, memo)
            ],
            na_action="ignore",
        )

    c = F.col(text_col)
    out = df.select(id_col, enc(c).alias("bpe_tokens"))
    return out.withColumn("n_bpe_tokens", F.size("bpe_tokens").cast("long"))


GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# Table A1 thresholds for the repetition signals (Rae et al. 2021):
# duplicate line/paragraph fraction <= 0.30, their CHAR fractions <= 0.20,
# top {2,3,4}-gram char fraction <= {0.20, 0.18, 0.16}, and duplicate
# {5..10}-gram char fraction <= {0.15, 0.14, 0.13, 0.12, 0.11, 0.10}.
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def gopher_repetition(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The rest of the Gopher Table A1 battery (Rae et al. 2021,
    arXiv:2112.11446) — the repetition-removal and stop-word signals
    `gopher_rules` does not cover, so the two together implement the
    paper's FULL filter:

      n_stop_words            — tokens in the paper's 8-word stop list
      dup_para_frac           — 1 − distinct/total paragraphs (\\n{2,} split)
      dup_line_char_frac      — chars in repeat occurrences of duplicated
                                lines / total chars ((cnt−1)·len summed)
      dup_para_char_frac      — same, over paragraphs
      top3gram_char_frac,     — chars covered by the most frequent word
      top4gram_char_frac        3-/4-gram (cnt·len(gram)/total chars;
                                ties → lexicographically greatest gram)
      dup_5gram_char_frac ..  — chars of token positions covered by ANY
      dup_10gram_char_frac      n-gram occurring ≥2 times (overlaps count
                                once), / total chars
      gopher_rep_pass         — AND of the Table A1 thresholds above plus
                                n_stop_words ≥ 2

    Plan shape (scale): ONE posexplode of the token array, ONE window
    shuffle keyed by doc (9 `lead`s build every 2..10-gram per position —
    no captured-array higher-order lambdas, which re-evaluate per
    element), then map-combinable counts over (doc, n, gram).  Duplicate
    coverage explodes dup grams back to positions and distincts them, so
    overlapping repeats are counted once; everything downstream of the
    explode carries ids + small ints, never text bodies.  Lines and
    paragraphs go through plain explode + count — no O(L²) per-row array
    calculus."""
    W = Window.partitionBy("__id").orderBy("__pos")
    toks = F.filter(tokenize(text_col), lambda t: t != "")
    # localCheckpoint (not cache): the tokenized projection feeds five
    # branches, but an explicit cache() here would leak — this builder
    # returns a lazy DataFrame, so there is no point to unpersist at.
    # Checkpoint blocks are released by the ContextCleaner once the
    # returned plan is garbage-collected, instead of pinning executor
    # storage for the application lifetime.
    base = df.select(
        F.col(id_col).alias("__id"),
        toks.alias("tk"),
        F.split(F.regexp_replace(F.col(text_col), r"\n+$", ""), "\n").alias("ln"),
        F.split(F.regexp_replace(F.col(text_col), r"\n+$", ""), r"\n{2,}").alias("pg"),
        F.length(text_col).alias("nc"),
    ).localCheckpoint(eager=False)
    nc_den = F.greatest(F.col("nc"), F.lit(1))

    # --- per-row signals: stop words + paragraph duplicate fraction ----
    row_stats = base.select(
        "__id",
        F.col("nc"),
        F.size(F.filter("tk", lambda x: x.isin(*GOPHER_STOP_WORDS)))
        .cast("long")
        .alias("n_stop_words"),
        F.round(
            1 - F.size(F.array_distinct("pg")) / F.greatest(F.size("pg"), F.lit(1)), 4
        ).alias("dup_para_frac"),
    )

    # --- duplicated line / paragraph CHAR fractions (explode + count) --
    def dup_char_frac(arr_col: str, out: str) -> DataFrame:
        from .split import explode_computed

        u = explode_computed(base, ["__id", "nc"], F.col(arr_col), "x")
        return (
            u.groupBy("__id", "nc", "x")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") > 1)
            .groupBy("__id")
            .agg(
                F.round(
                    F.sum((F.col("cnt") - 1) * F.length("x"))
                    / F.greatest(F.first("nc"), F.lit(1)),
                    4,
                ).alias(out)
            )
        )

    dl = dup_char_frac("ln", "dup_line_char_frac")
    dp = dup_char_frac("pg", "dup_para_char_frac")

    # --- one token-position frame feeds every n-gram statistic ---------
    # explicit repartition on the doc key: the bytes after this shuffle
    # are small enough that AQE would coalesce to 2-3 partitions, but the
    # DOWNSTREAM work per row (9-lead window, 8-way gram explode, hash)
    # is compute-bound — an explicit partition count pins the fan-out
    # (user-specified counts are exempt from AQE coalescing) and the
    # window reuses the same hash partitioning, so no second exchange.
    par = df.sparkSession.sparkContext.defaultParallelism
    pos = (
        base.select(
            "__id", "nc", F.size("tk").alias("nt"), F.posexplode_outer("tk")
        )
        .select(
            "__id", "nc", "nt", F.col("pos").alias("__pos"), F.col("col").alias("tok")
        )
        .repartition(par, "__id")
    )
    # n = 2 is gopher_rules' top-2-gram; this battery needs 3..10 only.
    # The top tiers (3, 4) shuffle the gram STRING (the argmax tiebreak
    # and char length need it); the dup tiers (5..10) only ever test
    # gram EQUALITY within a (doc, n) scope, so they shuffle a 64-bit
    # xxhash64 fingerprint instead — ~5x fewer shuffle bytes on the 6
    # heaviest tiers, same result for any collision-free assignment (a
    # within-doc 64-bit collision is ~1e-14 and would surface in the
    # oracle sweep).
    #
    # r13: the top (3-4) and dup (5-10) tiers are built by SEPARATE lead
    # windows.  The former single 9-lead frame fed two consumers, and
    # Catalyst re-evaluated the whole window subtree per consumer — every
    # n-gram string was concatenated twice and 6 of the 8 struct slots
    # were built only to be filtered away on each side.  Split, the top
    # branch pays a 3-lead window and the 9-lead window runs ONCE, each
    # branch building only its own grams.
    leads_top = pos.select(
        "__id", "nc", "nt", "__pos",
        *[
            F.concat_ws(
                " ", "tok", *[F.lead("tok", j).over(W) for j in range(1, n)]
            ).alias(f"g{n}")
            for n in (3, 4)
        ],
    )
    gcnt_top = (
        leads_top.select(
            "__id", "nc", "nt", "__pos",
            F.explode(
                F.array(
                    *[
                        F.when(
                            F.col("__pos") + n <= F.col("nt"),
                            F.struct(
                                F.lit(n).alias("n"),
                                F.col(f"g{n}").alias("gram"),
                            ),
                        )
                        for n in (3, 4)
                    ]
                )
            ).alias("s"),
        )
        .filter(F.col("s").isNotNull())
        .groupBy("__id", "nc", F.col("s.n").alias("n"), F.col("s.gram").alias("gram"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tops = (
        gcnt_top.groupBy("__id", "n")
        .agg(F.max(F.struct("cnt", "gram")).alias("top"), F.first("nc").alias("nc"))
        .select(
            "__id", "n",
            F.round(
                F.col("top.cnt") * F.length("top.gram") / F.greatest("nc", F.lit(1)), 4
            ).alias("frac"),
        )
        .groupBy("__id")
        .pivot("n", [3, 4])
        .agg(F.first("frac"))
        .withColumnRenamed("3", "top3gram_char_frac")
        .withColumnRenamed("4", "top4gram_char_frac")
    )

    leads_dup = pos.select(
        "__id", "nc", "nt", "__pos",
        *[
            F.concat_ws(
                " ", "tok", *[F.lead("tok", j).over(W) for j in range(1, n)]
            ).alias(f"g{n}")
            for n in range(5, 11)
        ],
    )
    dup_side = (
        leads_dup.select(
            "__id", "nc", "nt", "__pos",
            F.explode(
                F.array(
                    *[
                        F.when(
                            F.col("__pos") + n <= F.col("nt"),
                            F.struct(
                                F.lit(n).alias("n"),
                                F.xxhash64(F.col(f"g{n}")).alias("gh"),
                            ),
                        )
                        for n in range(5, 11)
                    ]
                )
            ).alias("s"),
        )
        .filter(F.col("s").isNotNull())
        .select("__id", "nc", "__pos", F.col("s.n").alias("n"), F.col("s.gh").alias("gh"))
    )
    # duplicated iff the gram's (doc, n, gh) group has >= 2 members — an
    # unbounded-frame window count marks occurrences in ONE shuffle,
    # where a groupBy + join-back would shuffle the 6-tier gram stream a
    # second time for the join
    w_gram = Window.partitionBy("__id", "n", "gh")
    cover = (
        dup_side.withColumn("gcnt", F.count(F.lit(1)).over(w_gram))
        .filter(F.col("gcnt") >= 2)
        .select("__id", "nc", "n", F.explode(F.sequence("__pos", F.col("__pos") + F.col("n") - 1)).alias("p"))
        .distinct()
    )
    # token lengths for the coverage sum come from a LENGTH-ONLY
    # posexplode of the checkpointed base (r13) — the former probe side
    # re-evaluated the full token-string `pos` frame (strings + an
    # explicit repartition exchange) only to take each token's length;
    # the join re-shuffles by (__id, p) either way, so the repartition
    # bought nothing and the strings were dead weight in the exchange.
    plen = base.select(
        "__id", F.posexplode(F.transform("tk", lambda x: F.length(x)))
    ).select("__id", F.col("pos").alias("p"), F.col("col").alias("tl"))
    covchars = (
        cover.join(plen, ["__id", "p"])
        .groupBy("__id", "n")
        .agg(F.round(F.sum("tl") / F.greatest(F.first("nc"), F.lit(1)), 4).alias("frac"))
        .groupBy("__id")
        .pivot("n", list(range(5, 11)))
        .agg(F.first("frac"))
    )
    covchars = covchars.select(
        "__id", *[F.col(str(n)).alias(f"dup_{n}gram_char_frac") for n in range(5, 11)]
    )

    out = (
        row_stats.join(dl, "__id", "left")
        .join(dp, "__id", "left")
        .join(tops, "__id", "left")
        .join(covchars, "__id", "left")
    )
    fill = {
        "dup_line_char_frac": 0.0, "dup_para_char_frac": 0.0,
        "top3gram_char_frac": 0.0, "top4gram_char_frac": 0.0,
        **{f"dup_{n}gram_char_frac": 0.0 for n in range(5, 11)},
    }
    out = out.fillna(fill)
    rep_pass = (
        (F.col("n_stop_words") >= 2)
        & (F.col("dup_para_frac") <= 0.30)
        & (F.col("dup_line_char_frac") <= 0.20)
        & (F.col("dup_para_char_frac") <= 0.20)
        & (F.col("top3gram_char_frac") <= GOPHER_TOP_NGRAM_MAX[3])
        & (F.col("top4gram_char_frac") <= GOPHER_TOP_NGRAM_MAX[4])
    )
    for n, thr in GOPHER_DUP_NGRAM_MAX.items():
        rep_pass = rep_pass & (F.col(f"dup_{n}gram_char_frac") <= thr)
    return out.select(
        F.col("__id").alias(id_col),
        "n_stop_words", "dup_para_frac", "dup_line_char_frac",
        "dup_para_char_frac", "top3gram_char_frac", "top4gram_char_frac",
        *[f"dup_{n}gram_char_frac" for n in range(5, 11)],
    ).withColumn("gopher_rep_pass", rep_pass.cast("int"))


def c4_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    badwords: list[str] | None = None,
) -> DataFrame:
    """C4 heuristic cleaning (Raffel et al. 2020, arXiv:1910.10683 §2.2)
    — the other standard pre-training filter battery next to Gopher:

      line level (applied, producing `clean_text`):
        * keep only lines ending in terminal punctuation (. ! ? ")
        * keep only lines with >= 5 whitespace words
        * drop lines mentioning javascript (case-insensitive)
      page level (flags):
        * n_sentences       — terminal-punctuation count in clean_text;
                              pages need >= 3
        * has_lorem_ipsum   — placeholder-text marker
        * has_curly_brace   — '{' marks code, dropped by C4
        * badword_hits      — tokens in the caller's blocklist (C4 uses a
                              public blocklist; pass your own — default
                              empty list, so the rule passes vacuously)
        * c4_keep           — AND of the page rules

    Everything is per-row array calculus (split + filter + join; lambdas
    reference only their own arguments), so the pass is one narrow
    projection — no shuffle, no UDF."""
    bw = [w.lower() for w in (badwords or [])]
    lines = F.split(F.regexp_replace(F.col(text_col), r"\n+$", ""), "\n")

    def line_ok(x):
        t = F.rtrim(x)
        ends = (
            t.endswith(".") | t.endswith("!") | t.endswith("?") | t.endswith('"')
        )
        words = F.size(F.filter(F.split(F.trim(x), r"\s+"), lambda w: w != ""))
        return ends & (words >= 5) & ~F.lower(x).contains("javascript")

    kept = F.filter(lines, line_ok)
    clean = F.array_join(kept, "\n")
    n_sent = F.size(F.split(clean, r"[.!?]")) - 1  # separators count
    toks = F.filter(tokenize(text_col), lambda t: t != "")
    bw_hits = (
        F.size(F.filter(toks, lambda x: x.isin(*bw))) if bw else F.lit(0)
    ).cast("long")
    has_lorem = F.lower(F.col(text_col)).contains("lorem ipsum")
    has_brace = F.col(text_col).contains("{")
    out = df.select(
        id_col,
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        clean.alias("clean_text"),
        n_sent.cast("long").alias("n_sentences"),
        has_lorem.cast("int").alias("has_lorem_ipsum"),
        has_brace.cast("int").alias("has_curly_brace"),
        bw_hits.alias("badword_hits"),
    )
    keep = (
        (F.col("n_sentences") >= 3)
        & (F.col("has_lorem_ipsum") == 0)
        & (F.col("has_curly_brace") == 0)
        & (F.col("badword_hits") == 0)
    )
    return out.withColumn("c4_keep", keep.cast("int"))


def bpe_train(
    df: DataFrame,
    n_merges: int = 20,
    text_col: str = "text",
    min_count: int = 1,
    checkpoint_every: int = 8,
) -> list[tuple[str, str]]:
    """Learn a BPE merge table distributed (Sennrich et al. 2016): the
    corpus collapses ONCE to a (word, count, symbols) vocabulary table —
    corpus-sized work happens exactly once — and each merge iteration is
    vocab-sized: one weighted adjacent-pair count (map-combinable
    shuffle), a 1-row argmax to the driver, and a narrow Arrow pass that
    splices the winning pair inside every word's symbol array.  This is
    the shape a 100 TB tokenizer train needs: n_merges × O(vocab), not
    n_merges × O(corpus).

    Symbols follow `bpe_encode`'s contract (word chars + closing
    '</w>'), so encode(trained merges) reproduces the trainer's final
    symbol state exactly (property-tested).  Ties break on (count DESC,
    left, right) — deterministic run-to-run.  Lineage is truncated with
    localCheckpoint every `checkpoint_every` merges so iteration cost
    stays flat instead of growing a plan layer per merge.  Stops early
    when the best pair's count drops below `min_count`.
    """
    from pyspark.sql.functions import pandas_udf

    toks = F.filter(tokenize(text_col), lambda t: t != "")
    from .split import explode_computed

    words = (
        explode_computed(df.select(toks.alias("tk")), [], "tk", "w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # split on every inter-character gap (lookahead keeps position 0 whole)
    chars = F.filter(F.split(F.col("w"), "(?!^)"), lambda c: c != "")
    cur = words.select(
        "w", "cnt", F.concat(chars, F.array(F.lit("</w>"))).alias("sym")
    ).localCheckpoint(eager=True)

    merges: list[tuple[str, str]] = []
    for it in range(int(n_merges)):
        n_pairs = F.greatest(F.size("sym") - 1, F.lit(0))
        pairs = F.zip_with(
            F.slice(F.col("sym"), 1, n_pairs),
            F.slice(F.col("sym"), 2, n_pairs),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        )
        e = explode_computed(cur.select("cnt", pairs.alias("p")), ["cnt"], "p", "pr")
        top = (
            e.groupBy(F.col("pr.l").alias("l"), F.col("pr.r").alias("r"))
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_count:
            break
        left, right = top[0]["l"], top[0]["r"]
        merges.append((left, right))

        def make_apply(lt: str, rt: str):
            def apply_merge(s):
                def one(sym):
                    out, i = [], 0
                    while i < len(sym):
                        if i + 1 < len(sym) and sym[i] == lt and sym[i + 1] == rt:
                            out.append(lt + rt)
                            i += 2
                        else:
                            out.append(sym[i])
                            i += 1
                    return out

                return s.map(one)

            return pandas_udf(apply_merge, "array<string>")

        cur = cur.withColumn("sym", make_apply(left, right)(F.col("sym")))
        if (it + 1) % checkpoint_every == 0:
            cur = cur.localCheckpoint(eager=True)
    return merges
