"""Text-analysis operators for training-data pipelines.

All hot-path expressions are built-in pyspark.sql.functions (JVM-side,
whole-stage codegen) — no Python UDFs. Every operator here is
SQL-expressible, so each has a DuckDB oracle in __spark_entry__.

Portability contract with the oracle: hashes are md5-hex-prefix→bigint
(identical in Spark `conv(substr(md5(x),1,15),16,10)` and DuckDB
`CAST('0x'||substr(md5(x),1,15) AS BIGINT)`), regexes stay in the common
RE2/PCRE subset.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# BPE-ish tokenization: letter runs, digit runs, single punctuation marks
TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

STOPWORDS = {
    "en": ["the", "and", "is", "of", "to", "in", "that", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "que"],
    "es": ["el", "la", "los", "que", "es", "una", "por", "con"],
}


def portable_hash64(col: Column) -> Column:
    """Deterministic 60-bit hash identical in Spark and DuckDB (see module
    docstring). Use xxhash64 instead on the pure-Spark scale path."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def normalized(col: Column) -> Column:
    """Lowercase, strip non-alphanumerics to single spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def with_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    t = F.col(text_col)
    return df.withColumn(
        "ws_tokens",
        F.when(F.trim(t) == "", F.lit(0)).otherwise(F.size(F.split(F.trim(t), "\\s+"))),
    ).withColumn("bpe_tokens", F.size(F.regexp_extract_all(t, F.lit(TOKEN_RE), 0)))


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score: length, punctuation
    density, digit density, mean word length, stopword hit-rate."""
    df = spread_small_input(df)
    t = F.col(text_col)
    n_chars = F.length(t)
    n_punct = F.size(F.regexp_extract_all(t, F.lit("[^A-Za-z0-9\\s]"), 0))
    n_digit = F.size(F.regexp_extract_all(t, F.lit("[0-9]"), 0))
    n_words = F.size(F.regexp_extract_all(t, F.lit("[A-Za-z]+"), 0))
    n_stop = F.size(
        F.regexp_extract_all(
            F.lower(t), F.lit("\\b(" + "|".join(STOPWORDS["en"]) + ")\\b"), 0
        )
    )
    safe_chars = F.greatest(n_chars, F.lit(1))
    safe_words = F.greatest(n_words, F.lit(1))
    return (
        df.withColumn("n_chars", n_chars.cast("long"))
        .withColumn("punct_ratio", (n_punct / safe_chars).cast("double"))
        .withColumn("digit_ratio", (n_digit / safe_chars).cast("double"))
        .withColumn("stop_ratio", (n_stop / safe_words).cast("double"))
        .withColumn(
            "quality",
            (
                F.least(n_chars / F.lit(500.0), F.lit(1.0)) * 0.4
                + (1.0 - F.least(F.col("punct_ratio") * 4.0, F.lit(1.0))) * 0.2
                + (1.0 - F.least(F.col("digit_ratio") * 4.0, F.lit(1.0))) * 0.2
                + F.least(F.col("stop_ratio") * 5.0, F.lit(1.0)) * 0.2
            ).cast("double"),
        )
    )


def with_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile language ID over {en, de, fr, es} ('und' = unknown
    when no profile matches). Pure built-ins → pushdown-friendly."""
    df = spread_small_input(df)
    t = F.lower(F.col(text_col))
    hits = {
        lang: F.size(F.regexp_extract_all(t, F.lit("\\b(" + "|".join(words) + ")\\b"), 0))
        for lang, words in STOPWORDS.items()
    }
    best = F.greatest(*hits.values())
    lang_col = F.when(best == 0, F.lit("und"))
    for lang in STOPWORDS:  # deterministic priority order on ties
        lang_col = lang_col.when(hits[lang] == best, F.lit(lang))
    return df.withColumn("lang_pred", lang_col)


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint = hash of the normalized text (content-defined
    identity for exact dedup)."""
    return df.withColumn("fingerprint", portable_hash64(normalized(F.col(text_col))))


def _num_partitions(plan) -> int:
    """Partition count of a physical plan, read from the plan itself: an
    exchange or repartition states its count, a cached relation that is
    loaded reports its stored blocks, and a leaf scan builds (but does not
    run) its RDD. Unknown-partitioned nodes take their children's count."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _num_partitions(plan.executedPlan())
    if name == "InMemoryTableScanExec":
        cached = plan.relation().cacheBuilder()
        if cached.isCachedColumnBuffersLoaded():
            return cached.cachedColumnBuffers().getNumPartitions()
        return _num_partitions(plan.relation().cachedPlan())
    n = plan.outputPartitioning().numPartitions()
    if n > 0:
        return n
    kids = plan.children()
    if kids.isEmpty():
        return plan.execute().getNumPartitions()
    counts = [_num_partitions(kids.apply(i)) for i in range(kids.size())]
    return sum(counts) if name == "UnionExec" else max(counts)


def spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition a df whose scan has fewer partitions than the
    session parallelism (guide §2.5 "input skew: fix at the source or
    repartition immediately after the read"). A small parquet file scans as
    ONE split, so every per-row transform chained on it runs on one core —
    measured round 7: the shingle explode over the 5,000-doc bench corpus
    spent 7.9 s single-threaded vs ~0.6 s spread over 32. Inputs that are
    already at least as parallel as the session (any real at-scale table)
    are returned UNCHANGED — no extra exchange on the 100 TB path.

    The count comes from the physical plan, not `df.rdd`: building the RDD
    of an adaptive plan runs its shuffle stages, so a chained call (each
    per-row operator spreads its own input) would start jobs — and AQE
    would report the coalesced count of an already-spread input. Read from
    the plan, a spread input states its round-robin count and passes
    through, so a chain of operators pays ONE exchange.

    The price: an input that ends in a shuffle not yet executed (a join or
    aggregate output) reports `spark.sql.shuffle.partitions`, not the
    smaller count AQE may coalesce it to at run time, so it is NOT spread
    and its per-row work runs on the coalesced partitions. Spread such an
    input explicitly (`df.repartition(n)`) when it is known to be small."""
    try:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        plan = df._jdf.queryExecution().executedPlan()
        if _num_partitions(plan) < parallelism:
            return df.repartition(parallelism)
    except (AttributeError, Py4JError):  # no JVM plan to read: leave df as is
        pass
    return df


def shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Word n-gram shingle set per doc: (doc_id, shingle). Built from
    normalized words with a JVM-side transform over a sequence — no UDF.

    The word array is projected as a column first: a lambda re-evaluates
    every outer expression it references once per element, so slicing the
    inline split would re-run the normalizing regex per shingle (O(L^2)
    per doc)."""
    df = spread_small_input(df).select(
        "doc_id", F.split(normalized(F.col(text_col)), " ").alias("_words")
    )
    words = F.col("_words")
    n_sh = F.size(words) - (n - 1)
    # sequence(0, -1) would generate a DESCENDING range — guard empty docs
    idx = F.when(n_sh > 0, F.sequence(F.lit(0), n_sh - 1)).otherwise(
        F.array().cast("array<int>")
    )
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    return (
        df.select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
        .filter(F.col("shingle") != "")
        .distinct()
    )


def with_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition/shape signals (Rae et al. 2021 quality
    filters), all JVM-side higher-order functions — no UDFs:

      dup_word_ratio    1 − distinct_words / words (word-level repetition)
      top_bigram_ratio  occurrences of the most frequent word bigram / bigrams
      mean_word_len     mean normalized-word length
      symbol_ratio      non-alphanumeric, non-space chars per word

    A doc failing `passes_gopher` (all thresholds at the published
    magnitudes) is a repetition/boilerplate suspect.

    Every signal is one per-row projection (no explode, no aggregate, no
    join): the top bigram count is the longest run of equal values in the
    doc's sorted bigram array, found by one `aggregate` pass — O(L log L) in
    doc length. It is computed per ROW; the SQL oracle groups bigrams by
    `doc_id`, so the two agree when `doc_id` is a row key.
    """
    t = F.col(text_col)
    # one projected word array (see shingles: lambdas re-evaluate inline
    # expressions per element)
    df = spread_small_input(df).withColumn(
        "_words", F.filter(F.split(normalized(t), " "), lambda w: w != "")
    )
    words = F.col("_words")
    n_words = F.size(words)
    safe_words = F.greatest(n_words, F.lit(1))

    n_distinct = F.size(F.array_distinct(words))
    dup_word_ratio = (1.0 - n_distinct / safe_words).cast("double")

    n_big = F.greatest(n_words - 1, F.lit(0))
    idx = F.when(n_big > 0, F.sequence(F.lit(0), n_big - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bigrams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, 2)))

    def step(acc, bg):
        run = F.when(bg == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            bg.alias("prev"), run.alias("run"), F.greatest(acc["top"], run).alias("top")
        )

    start = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("top"),
    )
    top_big = F.aggregate(F.array_sort(bigrams), start, step, lambda acc: acc["top"])
    top_bigram_ratio = F.when(
        n_big > 0, top_big.cast("double") / n_big.cast("double")
    ).otherwise(F.lit(0.0))

    total_word_chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    mean_word_len = (total_word_chars / safe_words).cast("double")
    n_symbols = F.size(F.regexp_extract_all(t, F.lit("[^A-Za-z0-9\\s]"), 0))
    symbol_ratio = (n_symbols / safe_words).cast("double")

    out = (
        df.withColumn("dup_word_ratio", dup_word_ratio)
        .withColumn("mean_word_len", mean_word_len)
        .withColumn("symbol_ratio", symbol_ratio)
        .withColumn("top_bigram_ratio", top_bigram_ratio)
    )
    return out.withColumn(
        "passes_gopher",
        (F.col("dup_word_ratio") <= 0.5)
        & (F.col("top_bigram_ratio") <= 0.2)
        & (F.col("mean_word_len") >= 2.0)
        & (F.col("mean_word_len") <= 12.0)
        & (F.col("symbol_ratio") <= 1.0),
    ).drop("_words")


PII_PATTERNS = [
    # order matters: emails first (their local part contains digits/dots),
    # then IPv4 (else the dot-tolerant PHONE pattern would eat addresses),
    # then phone-ish digit runs
    ("EMAIL", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
    ("IPV4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"),
    ("PHONE", "\\+?[0-9][0-9() .-]{7,}[0-9]"),
]


def scrub_pii(df: DataFrame, text_col: str = "text", out_col: str = "scrubbed") -> DataFrame:
    """Redact email / phone / IPv4 literals with <TYPE> placeholder tokens —
    chained JVM regexp_replace, no UDF. Patterns stay in the common RE2/PCRE
    subset so the DuckDB oracle applies the identical expressions."""
    col = F.col(text_col)
    for name, pat in PII_PATTERNS:
        col = F.regexp_replace(col, pat, f"<{name}>")
    return df.withColumn(out_col, col)
