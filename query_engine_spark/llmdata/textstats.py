"""Text analysis: language-ID, quality scoring, token counting, fingerprints.

All pure Column expressions (codegen'd, no UDFs) so they run scan-side at
100 TB and reproduce exactly in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from query_engine_spark.llmdata.dedup import normalize_text, word_shingles

__all__ = [
    "whitespace_token_count",
    "bpe_ish_token_count",
    "quality_features",
    "langid_scores",
    "langid",
    "langid_ngram_table",
    "content_fingerprint",
    "hash_bucket",
    "hash_sample",
    "top_terms",
    "write_text_index",
    "bm25_search_indexed",
    "kmin_fingerprint",
    "repetition_features",
    "lm_score_docs",
    "stupid_backoff_score",
    "duplicated_spans",
    "strip_duplicated_spans",
    "strip_boilerplate",
    "dedup_doc_segments",
    "split_assign",
    "bpe_pair_counts",
    "bpe_apply",
    "bpe_train",
    "domain_mix",
    "train_hashed_classifier",
    "hashed_classifier_score",
    "dsir_weights",
    "dsir_ratio_table",
    "winnow_fingerprints",
]

# BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space symbols
# (a deterministic stand-in for a GPT-2-style pre-tokenizer split).
BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def whitespace_token_count(col: Column) -> Column:
    t = F.trim(col)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, "\\s+")))


def bpe_ish_token_count(col: Column) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0))


# tiny per-language stopword profiles for the n-gram/stopword heuristic
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a"),
    "de": ("der", "die", "und", "das", "ist", "nicht"),
    "fr": ("le", "la", "et", "les", "des", "est"),
    "es": ("el", "la", "que", "de", "los", "es"),
}


def _tokens(col: Column) -> Column:
    return F.split(normalize_text(col), " ")


def _word_hits(nt: Column, words: tuple[str, ...]) -> Column:
    """Count of whole-token occurrences of `words` in normalized text `nt`
    (single-space separated, trimmed — normalize_text's contract), as a
    zero-width-lookahead regexp count: ``(?=(?:^| )(?:\\Qw\\E|...)(?: |$))``
    matches exactly one position per occurrence (the boundary before the
    token), so the count equals ``size(filter(split(nt,' '), isin(words)))``
    — the r17 langid_ngram_table device applied to token membership. The
    HOF filter it replaces is interpreted per array element; this is one
    codegen'd linear regex pass (fixed-literal alternation, no
    quantifiers)."""
    pat = "(?=(?:^| )(?:" + "|".join("\\Q%s\\E" % w for w in words) + ")(?: |$))"
    return F.regexp_count(nt, F.lit(pat))


def langid_scores(col: Column) -> dict[str, Column]:
    """Per-language stopword hit-rate (fraction of tokens in the profile)."""
    from query_engine_spark.llmdata.dedup import normalize_text

    nt = normalize_text(col)
    n = F.greatest(F.size(F.split(nt, " ")), F.lit(1))
    return {lang: _word_hits(nt, words) / n for lang, words in LANG_PROFILES.items()}


def langid(col: Column, default: str = "und") -> Column:
    """argmax over langid_scores; ties break alphabetically; all-zero → und."""
    scores = langid_scores(col)
    best = F.greatest(*scores.values())
    pred: Column = F.lit(default)
    # build the when-chain in reverse-alphabetical order so the earliest
    # alphabetical language wins ties (each later when overrides)
    for lang in sorted(scores, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit(default))


# tiny per-language character-trigram profiles (the classic n-gram heuristic;
# profiles chosen from distinctive function-word trigrams)
CHAR_TRIGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "ing", "ion", " th", "of "),
    "de": ("der", "ein", "ich", "sch", "und", "die"),
    "fr": ("les", "ent", "que", "des", " de", "ait"),
    "es": ("que", " de", "los", "ado", "nte", "es "),
}


def langid_ngram_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", default: str = "und"
) -> DataFrame:
    """Character-n-gram language ID as (id, lang_pred) — the scale path.

    MAP-ONLY (r17): per-language hit counts via `regexp_count` with a
    zero-width-lookahead alternation of the profile's quoted trigram
    literals — ``(?=(?:\\Qg1\\E|\\Qg2\\E|...))`` matches (and counts) every
    POSITION where a profile trigram starts, which is exactly the
    explode-form's overlapping count: at most one 3-char literal of a
    language can start at a given position, and a zero-width find()
    advances one char, so positions are counted independently. Each
    pattern is a fixed-literal alternation under a lookahead — no
    quantifiers, every attempt bounded by six 3-char comparisons, linear
    on any adversarial input (the r12/r13 regex discipline). The previous
    shape (trigram-array explode → 24-row broadcast profile join → two
    aggregates) spent 1.5 s of its 2.6 s at sf0.1 building the trigram
    array in the interpreted `transform` HOF; this form is pure codegen
    expressions — 0.46 s, no Generate, no join, no exchange, and the
    per-language score's shared denominator means the argmax needs no
    division at all (argmax over h == argmax over h/max(n,1)).
    Collect-verified identical on sf0.1 (tools note in OPTIMIZATION_r17).
    Argmax = least(struct(-h, lang)) for the alphabetical tie-break over
    the hit languages; docs with no trigrams, no hits, or null text get
    `default` (null counts propagate to a null condition → otherwise).
    """
    from query_engine_spark.llmdata.dedup import normalize_text

    langs = sorted(CHAR_TRIGRAM_PROFILES)
    norm = df.select(F.col(id_col), normalize_text(F.col(text_col)).alias("__t"))
    pats = {
        l: "(?=(?:" + "|".join("\\Q%s\\E" % g for g in CHAR_TRIGRAM_PROFILES[l]) + "))"
        for l in langs
    }
    scored = norm.select(
        F.col(id_col),
        *[F.regexp_count(F.col("__t"), F.lit(pats[l])).alias(f"__h_{l}") for l in langs],
    )
    best = F.least(
        *[F.struct((-F.col(f"__h_{l}")).alias("ns"), F.lit(l).alias("lang")) for l in langs]
    )
    anyhit = F.greatest(*[F.col(f"__h_{l}") for l in langs]) > 0
    return scored.select(
        F.col(id_col),
        F.when(anyhit, best["lang"]).otherwise(F.lit(default)).alias("lang_pred"),
    )


def quality_col(t: Column) -> Column:
    """`quality_features`' composite score as a single Column (same gates,
    same 6-digit ratio rounding) — for callers that need the gate as a pure
    row expression without the feature table (pipeline.quality_score_col
    delegates here; curation_flags fuses it into its per-row pass)."""
    from query_engine_spark.llmdata.dedup import normalize_text

    nt = normalize_text(t)
    n_tok = F.size(F.split(nt, " "))
    n_chars = F.length(t)
    punct = F.length(F.regexp_replace(t, "[^.!?,;:]", ""))
    # whole-token stopword count as a codegen'd lookahead regexp instead of
    # the interpreted filter-isin HOF — identical integer (see _word_hits)
    en_hits = _word_hits(nt, LANG_PROFILES["en"])
    punct_ratio = F.round(punct / F.greatest(n_chars, F.lit(1)), 6)
    stop_ratio = F.round(en_hits / F.greatest(n_tok, F.lit(1)), 6)
    return F.round(
        F.when(n_tok >= 20, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((punct_ratio > 0.0) & (punct_ratio < 0.2), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(stop_ratio > 0.05, F.lit(0.3)).otherwise(F.lit(0.0)),
        2,
    )


def quality_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation / stopword-ratio features + a composite score.

    The composite mirrors the usual C4/Gopher-style gates: not too short,
    sane punctuation density, some stopwords (a fluency proxy).
    """
    from query_engine_spark.llmdata.dedup import normalize_text

    t = F.col(text_col)
    nt = normalize_text(t)
    n_tok = F.size(F.split(nt, " "))
    n_chars = F.length(t)
    punct = F.length(F.regexp_replace(t, "[^.!?,;:]", ""))
    # codegen'd lookahead count instead of the interpreted filter-isin HOF
    # — identical integer (see _word_hits)
    en_hits = _word_hits(nt, LANG_PROFILES["en"])
    feats = df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.round(n_chars / F.greatest(n_tok, F.lit(1)), 6).alias("avg_token_len"),
        F.round(punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(en_hits / F.greatest(n_tok, F.lit(1)), 6).alias("stopword_ratio"),
    )
    score = (
        F.when(F.col("n_tokens") >= 20, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((F.col("punct_ratio") > 0.0) & (F.col("punct_ratio") < 0.2), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(F.col("stopword_ratio") > 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    )
    return feats.withColumn("quality", F.round(score, 2))


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top: int = 20,
) -> DataFrame:
    """BM25 keyword retrieval over the corpus, as two aggregations:

        tf:   explode tokens → per-(doc, term) counts (query terms only)
        idf:  per-term doc frequency → ln(1 + (N - df + 0.5)/(df + 0.5))
        score: Σ_terms idf · tf·(k1+1) / (tf + k1·(1 - b + b·len/avglen))

    Shapes: the token explode is the same scan as every other text op; doc
    frequencies and the average length are tiny aggregates (broadcast). Top
    docs by (score, id) — a fused top-N.
    """
    # project the token ARRAY below the explode: size(toks) in the same
    # select as the explode is a post-Generate projection, so the regex
    # tokenizer re-runs per TOKEN ROW (the round-8 classifier finding)
    arr = df.select(F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("__toks"))
    base = arr.select("id", F.explode("__toks").alias("t"), F.size("__toks").alias("dl"))
    # corpus scalars (N, avgdl) folded into the plan as ONE broadcast row —
    # no driver round-trips (round-1 verdict fix #5). avgdl averages docs
    # with >=1 token, matching the exploded table the old collect() saw.
    stats = df.select(_tokens(F.col(text_col)).alias("__t")).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.coalesce(F.avg(F.when(F.size("__t") > 0, F.size("__t"))), F.lit(1.0)).alias("__avgdl"),
    )
    qt = [t.lower() for t in query_terms]
    hits = base.filter(F.col("t").isin(qt))
    tf = hits.groupBy("id", "t").agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    return _bm25_score(tf, stats, k1=k1, b=b, top=top, id_col=id_col)


def _bm25_score(tf: DataFrame, stats: DataFrame, *, k1: float, b: float, top: int, id_col: str) -> DataFrame:
    """Shared BM25 scoring tail: per-(doc, term) tf rows + a one-row corpus
    stats table (__n, __avgdl) → ranked top docs. df per term derives from
    the tf rows (one row per posting)."""
    dfreq = tf.groupBy("t").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "t")
        .crossJoin(F.broadcast(stats))
        .withColumn("idf", F.log(F.lit(1.0) + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)))
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("__avgdl"))),
        )
        .groupBy("id")
        .agg(F.round(F.sum("term_score"), 6).alias("score"))
    )
    from query_engine_spark.operators.ordering import stamp_ord

    # dense rank over the top-N survivors only (no unpartitioned window)
    limited = scored.orderBy(F.col("score").desc(), F.col("id")).limit(top)
    ranked = stamp_ord(limited, ["score DESC", "id"], bounded=True, out="rank")
    return ranked.select(F.col("id").alias(id_col), "score", "rank")


def _term_bucket(col: Column, n_buckets: int) -> Column:
    """md5-prefix hash bucket for a term — deterministic and reproducible
    driver-side (int(md5(t)[:4], 16) % n_buckets), so query planning can
    compute the bucket list without touching data."""
    return F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("long") % n_buckets


def write_text_index(
    df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> None:
    """Materialize the inverted index: per-(doc, term) postings written as
    parquet PARTITIONED BY the term's md5-hash bucket, plus a one-row corpus
    stats table — the text analog of `similarity.write_ivf_index`.

    At 100 TB this is the structure that makes keyword retrieval cheap: a
    query's terms map to a handful of bucket directories (static partition
    pruning — the bucket list is computable from the query string alone,
    before planning), so a search reads |query terms| buckets instead of
    re-tokenizing the corpus."""
    # token array projected below the explode (see search_bm25)
    arr = df.select(F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("__toks"))
    base = arr.select(
        "id", F.explode("__toks").alias("t"), F.size("__toks").alias("dl")
    ).filter(F.col("t") != "")
    tf = base.groupBy("id", "t").agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    postings = tf.withColumn("bucket", _term_bucket(F.col("t"), n_buckets))
    postings.write.partitionBy("bucket").mode("overwrite").parquet(f"{path}/postings")
    # stats carries n_buckets so readers can't probe with a mismatched hash
    # modulus; written LAST so its _SUCCESS marker doubles as the index's
    # commit record (a crash mid-build leaves no committed stats -> rebuild)
    stats = df.select(_tokens(F.col(text_col)).alias("__t")).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.coalesce(F.avg(F.when(F.size("__t") > 0, F.size("__t"))), F.lit(1.0)).alias("__avgdl"),
        F.lit(n_buckets).alias("__n_buckets"),
    )
    stats.write.mode("overwrite").parquet(f"{path}/stats")


def bm25_search_indexed(
    spark,
    path: str,
    query_terms: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    top: int = 20,
    n_buckets: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 over a materialized `write_text_index` layout.

    The query terms' buckets are computed DRIVER-SIDE from the same md5
    prefix the writer used, so the postings scan carries a static
    `bucket IN (...)` partition filter — only those directories are listed
    and read (plan-asserted in test_plans). The bucket modulus comes from
    the INDEX's stats row, not the caller (a mismatched `n_buckets` would
    silently drop hits); the parameter is only the fallback for legacy
    layouts without the column. Scoring is byte-identical to `bm25_search`
    (shared `_bm25_score` tail)."""
    import hashlib

    stats = spark.read.parquet(f"{path}/stats")
    if "__n_buckets" in stats.columns:
        n_buckets = stats.select("__n_buckets").head()[0]
        stats = stats.drop("__n_buckets")
    qt = sorted({t.lower() for t in query_terms})
    buckets = sorted({int(hashlib.md5(t.encode()).hexdigest()[:4], 16) % n_buckets for t in qt})
    postings = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(buckets) & F.col("t").isin(qt))
        .select("id", "t", "tf", "dl")
    )
    return _bm25_score(postings, stats, k1=k1, b=b, top=top, id_col=id_col)


def contamination_pairs(
    train: DataFrame,
    test: DataFrame,
    *,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_hits: int = 1,
) -> DataFrame:
    """Train/test contamination check: (train_id, test_id, shared n-gram
    count) for every pair sharing ≥ min_hits word n-grams — the standard
    benchmark-leakage detector. The join is keyed on the n-gram, so only
    colliding documents meet; at 100 TB drop stop-grams first (df cap) the
    same way ngram_jaccard_pairs does."""
    from query_engine_spark.llmdata.dedup import word_shingles

    def grams(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(name),
            F.explode(F.array_distinct(word_shingles(F.col(text_col), n))).alias("g"),
        )

    tr = grams(train, "train_id")
    te = grams(test, "test_id")
    return (
        tr.join(te, "g")
        .groupBy("train_id", "test_id")
        .agg(F.count("*").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_hits)
    )


# PII-ish patterns (emails, international-ish phone numbers, IPv4) — the
# redaction pass a training-data pipeline runs before tokenization.
# Quantifiers are BOUNDED (r12 CPU-bomb guard, same class as the HTML
# extractor fix): with unbounded `+`, the JVM engine's failed attempt at
# every offset of a long class-run costs O(run) — a 256 KB base64 blob
# (ordinary crawl text, not even adversarial) stalled redact_pii for
# >6 min, O(N²). Bounds cap each attempt at a constant and are the
# standards' own limits (RFC 5321: local-part ≤64, domain ≤255; E.164 +
# separators stays far under 32), so conforming values never notice;
# a >64-char "local part" is not an address. The LOCAL bound is 320,
# not RFC 5321's 64: at {1,64} a 100-char address-like token matched
# only its LAST 64 chars, leaving a name-bearing 36-char prefix
# unredacted — for a privacy pass, partial-leak is the worst failure
# mode (ADVICE r12). 320 swallows any plausible over-long token WHOLE
# (over-redaction stance); beyond 320 the run is machine junk (base64/
# hash) where a partial match leaks nothing name-bearing, and the
# attempt cost stays constant-bounded (measured: 1 MB flood 4.4 s at
# 64 vs 4.8 s at 320 — overhead-dominated). A long digit run likewise
# redacts as MULTIPLE <PHONE> tokens (covering, ≤8-digit tail) — pinned
# in tests/test_bombs.py. RE2-safe (DuckDB oracles
# restate these verbatim — keep registry.py text_redact_pii in sync).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("[A-Za-z0-9._%+-]{1,320}@[A-Za-z0-9.-]{1,255}\\.[A-Za-z]{2,24}", "<EMAIL>"),
    ("\\+?[0-9][0-9()\\- ]{7,30}[0-9]", "<PHONE>"),
    ("\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>"),
)


def redact_pii(col: Column) -> Column:
    """Sequentially apply the PII regex redactions (order matters: emails
    before phones so digits in addresses don't half-match)."""
    out = col
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def content_fingerprint(col: Column) -> Column:
    """md5 of the normalized text — the exact-dedup key."""
    return F.md5(normalize_text(col))


def kmin_fingerprint(col: Column, k: int = 4, shingle: int = 3) -> Column:
    """Order-invariant document sketch: md5 over the k smallest shingle
    hashes (a k-min sketch — robust to small edits, unlike content_fingerprint)."""
    hashes = F.array_sort(F.transform(F.array_distinct(word_shingles(col, shingle)), F.md5))
    return F.md5(F.concat_ws("|", F.slice(hashes, 1, k)))


# ---------------------------------------------------------------------------
# Deterministic sampling + vocabulary (training-data pipeline staples)


def hash_bucket(col: Column, buckets: int = 10_000) -> Column:
    """Deterministic [0, buckets) bucket from md5 of the value — the
    engine-portable way to sample reproducibly (same rows in Spark, DuckDB,
    or any engine with md5; never rand(), which varies by partitioning)."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")
    return h % buckets


def hash_sample(
    df: DataFrame,
    rate: float = 0.1,
    *,
    id_col: str = "doc_id",
    strat_col: str | None = None,
    rates: dict[str, float] | None = None,
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic (stratified) sampling: keep a row iff its id's hash
    bucket falls below the stratum's rate. Map-only — no shuffle, pushes to
    the scan; at 100 TB this is the only sane way to subsample (rand() isn't
    reproducible across retries/partitionings, and a groupBy-based sampler
    shuffles the world).

    `rates` maps strat_col values → rate; unmatched strata use `rate`.
    """
    b = hash_bucket(F.col(id_col), buckets)
    if strat_col is None or not rates:
        return df.filter(b < int(rate * buckets))
    thresh: Column = F.lit(int(rate * buckets))
    for value, r in sorted(rates.items()):
        thresh = F.when(F.col(strat_col) == value, F.lit(int(r * buckets))).otherwise(thresh)
    return df.filter(b < thresh)


def balanced_sample(
    df: DataFrame,
    strat_col: str,
    *,
    id_col: str = "doc_id",
    buckets: int = 10_000,
) -> DataFrame:
    """Class-balancing downsample: reduce every stratum to (approximately)
    the SMALLEST stratum's size, deterministically — the training-data move
    for capping over-represented languages/sources without a shuffle of the
    data itself.

    Data-dependent rates stay in-plan: stratum counts are a tiny aggregate
    broadcast back onto the scan, and the keep-test is pure integer math —
    ``bucket(id) * n_stratum < n_min * buckets`` (exact in int64; no
    float thresholds that could round differently across engines). Like
    `hash_sample`, selection is by md5 bucket, so it is reproducible across
    retries, partitionings, and engines.
    """
    counts = df.groupBy(strat_col).agg(F.count("*").alias("__n"))
    mn = counts.agg(F.min("__n").alias("__n_min"))
    b = hash_bucket(F.col(id_col), buckets)
    return (
        df.join(F.broadcast(counts), strat_col)
        .crossJoin(F.broadcast(mn))
        .filter(b * F.col("__n") < F.col("__n_min") * buckets)
        .drop("__n", "__n_min")
    )


def ngram_lm(
    df: DataFrame,
    n: int = 2,
    *,
    text_col: str = "text",
    min_count: int = 2,
    quant: int = 10**6,
    gram_counts: DataFrame | None = None,
) -> DataFrame:
    """Count-based n-gram language-model table: ``(ngram, cnt, ctx_cnt,
    prob_q)`` where prob_q = MLE conditional probability
    P(wₙ | w₁..wₙ₋₁) · quant, floored to an integer — the count pipeline
    under any KN/Katz smoothing, and the classic "train an n-gram LM for
    perplexity filtering" step of corpus curation.

    Context totals are the SUM of n-gram counts per context (not raw
    (n-1)-gram occurrences), so probabilities per context sum to ≤ quant
    exactly, with the deficit = mass dropped by `min_count` (cutoff
    applies to emitted rows only, never to the denominators — a cutoff
    that re-normalized would silently inflate surviving probabilities).

    One token explode, two hash aggregations, one context-keyed join —
    every stage map-side combinable; integer prob floor keeps the table
    engine-reproducible.

    `gram_counts` (a pre-aggregated ``(g, cnt)`` corpus table) skips the
    explode — callers that already hold per-doc gram counts (lm_score_docs)
    roll them up instead of re-scanning the corpus.
    """
    if n < 2:
        raise ValueError("ngram_lm needs n >= 2 (context must be non-empty)")
    from query_engine_spark.llmdata.dedup import word_shingles

    if gram_counts is not None:
        g_all = gram_counts
    else:
        grams = df.select(F.explode(word_shingles(F.col(text_col), n)).alias("g"))
        g_all = grams.groupBy("g").agg(F.count(F.lit(1)).alias("cnt"))
    ctx = F.regexp_replace("g", " [^ ]+$", "")
    cc = g_all.groupBy(ctx.alias("ctx")).agg(F.sum("cnt").alias("ctx_cnt"))
    cg = g_all.filter(F.col("cnt") >= min_count).withColumn("ctx", ctx)
    return (
        cg.join(cc, "ctx")
        .select(
            F.col("g").alias("ngram"),
            "cnt",
            "ctx_cnt",
            F.expr(f"(cnt * {quant}) div ctx_cnt").alias("prob_q"),
        )
    )


def repetition_features(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    quant: int = 10**6,
) -> DataFrame:
    """Gopher-style repetition quality features (Rae et al. 2021, §A1.1):
    per document, for word n-grams n ∈ {1,2,3},

    - ``top{n}_ppm``  — fraction of n-gram occurrences taken by the single
      most frequent n-gram (quantized to parts-per-million, floored);
    - ``dup{n}_ppm``  — fraction of n-gram occurrences whose n-gram occurs
      more than once.

    Gopher thresholds these to drop boilerplate/spam (e.g. top-2-gram
    fraction > 0.20). We count occurrence fractions rather than the paper's
    character fractions — proportional for near-uniform token lengths, and
    exactly integer-reproducible across engines (floor ppm, no float ratio).

    Shape (fused, round 8): the three n-gram streams union into ONE
    tagged (doc_id, n, g) relation, so the whole operator is one shuffle
    on (doc_id, n, g) + one on (doc_id, n) + a conditional-agg pivot —
    instead of the previous per-n pipeline (3 shuffles each) stitched by
    two doc-keyed joins. Map-side combinable, sharded by document, no
    window, no driver state; identical integers (the per-n arithmetic is
    untouched, n is just another grouping key). Documents whose
    normalized text is empty vanish (no tokens); docs with < n words get
    0 for that n's features.
    """
    from query_engine_spark.llmdata.dedup import word_shingles

    # NOTE (r16 measurement): fusing the three per-n streams into ONE
    # Generate (tagged structs concat'd inside a bound tokenize) was tried
    # and measured SLOWER at sf0.1 (2.60 s vs 1.81 s) — the struct-building
    # transform/concat HOFs are interpreted, while the three separate
    # Generates stay in whole-stage codegen. The 3-scan union is the
    # faster shape; left as is on purpose.
    def grams_of(n: int) -> DataFrame:
        if n == 1:
            return df.select(
                F.col(id_col).alias("doc_id"),
                F.lit(1).alias("n"),
                F.explode(_tokens(F.col(text_col))).alias("g"),
            ).filter(F.col("g") != "")
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.lit(n).alias("n"),
            F.explode(word_shingles(F.col(text_col), n)).alias("g"),
        )

    tagged = grams_of(1).unionByName(grams_of(2)).unionByName(grams_of(3))
    cnts = tagged.groupBy("doc_id", "n", "g").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc_n = cnts.groupBy("doc_id", "n").agg(
        F.expr(f"(max(cnt) * {quant}) div sum(cnt)").alias("top_ppm"),
        F.expr(
            f"(coalesce(sum(cnt) filter (where cnt >= 2), 0) * {quant}) div sum(cnt)"
        ).alias("dup_ppm"),
    )

    # conditional-agg pivot: every doc in per_doc_n has an n=1 row (any
    # tokenized doc does), so top1/dup1 are never null; missing n=2/3
    # (docs with < n words) coalesce to 0 exactly as the old left joins
    def pick(n: int, col: str):
        return F.max(F.when(F.col("n") == n, F.col(col)))

    return per_doc_n.groupBy("doc_id").agg(
        pick(1, "top_ppm").alias("top1_ppm"),
        pick(1, "dup_ppm").alias("dup1_ppm"),
        F.coalesce(pick(2, "top_ppm"), F.lit(0)).alias("top2_ppm"),
        F.coalesce(pick(2, "dup_ppm"), F.lit(0)).alias("dup2_ppm"),
        F.coalesce(pick(3, "top_ppm"), F.lit(0)).alias("top3_ppm"),
        F.coalesce(pick(3, "dup_ppm"), F.lit(0)).alias("dup3_ppm"),
    )


def _doc_gram_counts(
    df: DataFrame,
    n: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-(doc, word-n-gram) occurrence counts — the shared pre-aggregation
    of lm_score_docs and curation_flags' repetition signal. Built through
    one helper so both consumers produce PLAN-IDENTICAL subtrees: inside a
    single query, AQE's ReuseExchange then dedups the explode + partial
    aggregation instead of running the corpus tokenization twice (r17)."""
    from query_engine_spark.llmdata.dedup import word_shingles

    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_shingles(F.col(text_col), n)).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def lm_score_docs(
    df: DataFrame,
    lm: DataFrame | None = None,
    *,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    quant: int = 10**6,
) -> DataFrame:
    """Score every document under an n-gram LM count table (`ngram_lm`
    schema) — the scoring half of the classic perplexity-filter loop
    (train a cheap LM on the corpus or a trusted subset, keep documents the
    model finds likely). Returns per doc:

    - ``n_grams``     — scoring n-grams in the doc;
    - ``oov``         — grams absent from the table (unseen or cut off);
    - ``sum_prob_q``  — Σ quantized conditional probability over grams
      (OOV contributes 0);
    - ``score_q``     — sum_prob_q div n_grams: mean quantized conditional
      probability, a monotone inverse of perplexity on the quantized MLE.

    Integer mean-probability instead of the textbook mean-log-probability:
    ln() is not exactly reproducible across engines (libm vs StrictMath),
    while this is floor arithmetic end-to-end. Docs with < n words have no
    grams and are not scored.

    Shape: per-(doc, gram) pre-aggregation shrinks the LM join to distinct
    grams per doc; the join keys on the gram (hash-partition both sides —
    or mark the LM side broadcast when the post-cutoff table fits); one
    final doc-keyed agg. When `lm` is None the table is trained on `df`
    itself (self-scoring) with its own corpus explode — measured FASTER
    than persisting the per-(doc, gram) table and rolling it up (6.2 s vs
    4.2 s at sf0.1): the second explode stays inside whole-stage codegen
    with map-side combine, while a persist materializes ~8M rows to the
    block store just to save that cheap recompute. (`ngram_lm`'s
    `gram_counts` hook remains for callers that already hold corpus
    counts.)
    """
    from query_engine_spark.llmdata.dedup import word_shingles

    if lm is None:
        if df.isStreaming:
            raise ValueError(
                "self-training an LM on an unbounded stream is ill-defined — "
                "train offline with ngram_lm and pass it as `lm`"
            )
        # Self-training keeps its OWN corpus explode — the shared-gram
        # rollup (corpus counts = Σ of the per-(doc, gram) pre-agg, AQE
        # reusing that exchange) was RE-MEASURED UNPERSISTED in r17 per the
        # r16 verdict item 6 and still lost: 0.90 s direct vs 1.25 s shared
        # (backoff 1.56 vs 1.73 s), interleaved same-session min-of-3,
        # OPTIMIZATION_r17.md REVERTED table. Mechanism: the rollup's reused exchange
        # carries one row per (doc, gram) — the direct explode→groupBy(g)
        # map-side-combines to ≤|vocab| rows per task before shuffling
        # (guide §2.3 "aggregate before you shuffle"), the same reason the
        # r16 classifier fusion lost. The r8 persisted-shape measurement
        # (6.2 vs 4.2 s) pointed the same way.
        lm = ngram_lm(df, n, text_col=text_col, min_count=min_count, quant=quant)
    lm_side = lm.select(F.col("ngram").alias("g"), "prob_q")
    if df.isStreaming:
        # one stateful operator only: stream-static join on the gram, then a
        # single doc-keyed agg (a per-(doc,gram) pre-agg would chain two
        # stateful aggregations, which Structured Streaming rejects)
        grams = df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_shingles(F.col(text_col), n)).alias("g"),
        )
        joined = grams.join(lm_side, "g", "left")
        return (
            joined.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum(
                    F.when(F.col("prob_q").isNull(), F.lit(1)).otherwise(F.lit(0))
                ).alias("oov"),
                F.sum(F.coalesce(F.col("prob_q"), F.lit(0))).alias("sum_prob_q"),
            )
            .withColumn("score_q", F.expr("sum_prob_q div n_grams"))
        )
    dg = _doc_gram_counts(df, n, id_col=id_col, text_col=text_col)
    joined = dg.join(lm_side, "g", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.sum(F.when(F.col("prob_q").isNull(), F.col("cnt")).otherwise(F.lit(0))).alias("oov"),
            F.sum(F.coalesce(F.col("prob_q"), F.lit(0)) * F.col("cnt")).alias("sum_prob_q"),
        )
        .withColumn("score_q", F.expr("sum_prob_q div n_grams"))
    )


def stupid_backoff_score(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    quant: int = 10**6,
    alpha_num: int = 4,
    alpha_den: int = 10,
) -> DataFrame:
    """Stupid-backoff trigram scoring (Brants et al., EMNLP 2007 — designed
    FOR distributed web-scale LMs): each trigram scores its MLE conditional
    if the trigram survived the count cutoff, else α·P(w|bigram-context),
    else 0 (counted as OOV). α = 0.4 as in the paper, applied as exact
    integer arithmetic (prob_q·4 div 10). Returns per doc:
    ``(doc_id, n_grams, tri_hits, bi_hits, oov, score_q)`` with
    score_q = Σ backoff-score div n_grams.

    Shape: two LM count tables (trigram + bigram — each one explode + two
    hash-aggs), one per-(doc, trigram) pre-agg, two gram-keyed joins (the
    suffix bigram key is a regexp strip of the first word). Every stage
    map-side combinable; the LM sides broadcast under AQE when the cutoffs
    keep them small.
    """
    from query_engine_spark.llmdata.dedup import word_shingles

    dg = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_shingles(F.col(text_col), 3)).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("g2", F.regexp_replace("g", "^[^ ]+ ", ""))
    )
    # Both LM tables keep their own corpus explode: deriving the trigram
    # LM from dg's rollup (shared (doc_id, g) exchange, AQE-reused) was
    # re-measured UNPERSISTED in r17 and lost, 1.56 s direct vs 1.73 s
    # shared (interleaved min-of-3, OPTIMIZATION_r17.md REVERTED table) — the reused
    # exchange ships per-(doc, gram) rows while the direct explode's
    # groupBy(g) map-side-combines to ≤|vocab| rows per task first
    # (guide §2.3); see lm_score_docs for the full note.
    lm3 = ngram_lm(df, 3, text_col=text_col, min_count=min_count, quant=quant)
    lm2 = ngram_lm(df, 2, text_col=text_col, min_count=min_count, quant=quant)
    j = (
        dg.join(
            lm3.select(F.col("ngram").alias("g"), F.col("prob_q").alias("p3")),
            "g",
            "left",
        )
        .join(
            lm2.select(F.col("ngram").alias("g2"), F.col("prob_q").alias("p2")),
            "g2",
            "left",
        )
    )
    backoff = F.coalesce(
        F.col("p3"), F.expr(f"(p2 * {alpha_num}) div {alpha_den}"), F.lit(0)
    )
    return (
        j.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.sum(F.when(F.col("p3").isNotNull(), F.col("cnt")).otherwise(F.lit(0))).alias("tri_hits"),
            F.sum(
                F.when(F.col("p3").isNull() & F.col("p2").isNotNull(), F.col("cnt")).otherwise(F.lit(0))
            ).alias("bi_hits"),
            F.sum(
                F.when(F.col("p3").isNull() & F.col("p2").isNull(), F.col("cnt")).otherwise(F.lit(0))
            ).alias("oov"),
            F.sum(backoff * F.col("cnt")).alias("sum_q"),
        )
        .withColumn("score_q", F.expr("sum_q div n_grams"))
        .drop("sum_q")
    )


def duplicated_spans(
    df: DataFrame,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    quant: int = 10**6,
) -> DataFrame:
    """Span-level exact-substring duplication (the hash-window approximation
    of Lee et al. 2022's suffix-array method, as used by large-corpus dedupe
    tooling): a position is *duplicated* when its word k-gram occurs ≥ 2
    times anywhere in the corpus (other docs or a repeat in the same doc).
    Returns per doc: ``n_spans`` (= max(words−k+1, 0)), ``dup_spans``, and
    ``dup_ppm`` — the signal used to strip boilerplate spans or drop
    span-duplicated documents. Docs with < k words have no spans and are
    absent.

    Shape: one positional explode → md5 the k-gram (fixed-width shuffle
    key, uniform distribution), one hash-agg for global span counts, one
    hash-semi-join back, one doc-keyed agg — every stage map-side
    combinable; no window, no sort, no driver state. The gram table feeds
    both the count and the join, so it is persisted via the tracked cache
    (freed by `clear_llmdata_cache`, same lifecycle as the LSH tables).
    """
    from query_engine_spark.llmdata import tracked_persist
    from query_engine_spark.llmdata.dedup import word_shingles

    grams = tracked_persist(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(word_shingles(F.col(text_col), k)).alias("pos0", "g"),
        ).select("doc_id", (F.col("pos0") + 1).alias("pos"), F.md5("g").alias("h"))
    )
    dup_h = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    flagged = grams.join(dup_h.withColumn("__dup", F.lit(1)), "h", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("__dup"), F.lit(0))).alias("dup_spans"),
        )
        .withColumn("dup_ppm", F.expr(f"(dup_spans * {quant}) div n_spans"))
    )


def strip_duplicated_spans(
    df: DataFrame,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The REMOVAL half of exact-substring dedup (Lee et al. 2022 rewrite
    documents rather than drop them): delete every token covered by at
    least one corpus-duplicated word k-gram and rebuild the cleaned text.
    Returns ``(doc_id, n_tokens, n_removed, clean_fp)`` with `clean_fp` =
    md5 of the cleaned token stream (the fingerprint keeps the verified
    output small; the cleaned text itself is `concat_ws(' ', ...)` of the
    same array).

    Shape: the positional gram table and global span counts are the
    `duplicated_spans` machinery; covered token positions explode k rows
    per duplicated span, dedup to (doc, pos), and collect to ONE small
    array per affected document — the rebuild is then a per-row indexed
    array filter (codegen, no shuffle). Documents with no duplicated spans
    pass through with n_removed = 0.
    """
    from query_engine_spark.llmdata.dedup import word_shingles

    grams = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(word_shingles(F.col(text_col), k)).alias("pos0", "g"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), F.md5("g").alias("h"))
    duph = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    covered = (
        grams.join(duph, "h", "left_semi")
        .select("doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("tpos"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("tpos")).alias("cov"))
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(_tokens(F.col(text_col)), lambda x: x != "").alias("ws"),
    )
    j = base.join(covered, "doc_id", "left").withColumn(
        "cov", F.coalesce("cov", F.array().cast("array<int>"))
    )
    cleaned = F.filter(
        F.col("ws"), lambda x, i: ~F.array_contains(F.col("cov"), (i + 1).cast("int"))
    )
    return j.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_tokens"),
        (F.size("ws") - F.size(cleaned)).cast("long").alias("n_removed"),
        F.md5(F.concat_ws(" ", cleaned)).alias("clean_fp"),
    )


def strip_boilerplate(
    df: DataFrame,
    *,
    k: int = 2,
    min_pct: int = 5,
    min_count: int = 2,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source boilerplate-prefix removal — the CCNet/RefinedWeb pass
    that strips the shared header ("cookie banner") a crawl source prepends
    to every page. A leading `k`-token prefix is boilerplate within a
    source when it opens at least `min_count` documents AND at least
    `min_pct`% of that source's documents; matching documents lose the
    prefix. The threshold is cross-multiplied in integers
    (count·100 ≥ n_source·min_pct) so no float boundary can flip a prefix
    between engines.

    Scale shape: the (source, prefix) frequency table aggregates in one
    shuffle to at most one row per distinct document head — and the
    *boilerplate* subset is bounded by 100/min_pct rows per source, so it
    broadcasts; the strip itself is then a map-only broadcast left join
    over the corpus (the 100 TB side never shuffles). Reference parity:
    same drop-signal role as curation_flags' dup gates (main.rs filter
    stage); the per-source grouping mirrors domain_mix's source keying.

    Output: (doc_id, source, is_boilerplate, removed_tokens, clean_text)
    where clean_text is the normalized text with the prefix dropped when
    flagged (documents shorter than `k` tokens lose everything).
    """
    toks = F.filter(_tokens(F.col(text_col)), lambda x: x != "")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        toks.alias("__toks"),
        F.concat_ws(" ", F.slice(toks, 1, k)).alias("__pfx"),
    )
    counts = base.groupBy("source", "__pfx").agg(F.count(F.lit(1)).alias("__c"))
    totals = base.groupBy("source").agg(F.count(F.lit(1)).alias("__n"))
    boiler = (
        counts.join(totals, "source")
        .filter((F.col("__c") >= min_count) & (F.col("__c") * 100 >= F.col("__n") * min_pct))
        .select("source", "__pfx", F.lit(True).alias("__boiler"))
    )
    j = base.join(F.broadcast(boiler), ["source", "__pfx"], "left")
    flagged = F.coalesce(F.col("__boiler"), F.lit(False))
    size = F.size("__toks")
    return j.select(
        "doc_id",
        "source",
        flagged.alias("is_boilerplate"),
        F.when(flagged, F.least(F.lit(k), size)).otherwise(F.lit(0)).cast("long").alias(
            "removed_tokens"
        ),
        F.when(flagged, F.concat_ws(" ", F.slice(F.col("__toks"), k + 1, size)))
        .otherwise(F.concat_ws(" ", F.col("__toks")))
        .alias("clean_text"),
    )


def dedup_doc_segments(
    df: DataFrame,
    *,
    seg_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Intra-document segment dedup — RefinedWeb's "remove duplicated
    sequences within a page" pass (crawled pages repeat nav blocks and
    footers inside one document). The token stream is cut into fixed
    `seg_tokens` windows; a segment equal to an EARLIER segment of the
    same document is dropped (keep-first), and the survivors reassemble in
    original order.

    Pure per-row array expressions: chunk via sequence/slice, keep-first
    via a filter comparing each segment to the array of its predecessors
    (array_position over the prefix) — map-only, no shuffle, no explode;
    a 100 TB corpus scans once. Cross-corpus span dedup is the separate
    duplicated_spans/strip_duplicated_spans pair; this one is per-row
    state-free.

    Evaluation note: `__toks` and `__segs` are materialized as REAL
    attributes across projection boundaries (each alias is consumed more
    than once downstream, so CollapseProject keeps the boundary). The
    original single-expression form re-embedded the whole `segs` tree —
    tokenizing regex included — inside the keep-first lambda, which Spark
    re-evaluates PER ARRAY ELEMENT: O(n_segs) full re-tokenizations per
    row, ~240x slower at sf0.1 (74 s -> 0.3 s). Higher-order-function
    lambdas defeat codegen subexpression elimination; never reference a
    non-attribute expression from inside one.

    Output: (doc_id, n_segments, n_dropped, clean_fp) with clean_fp the
    md5 of the reassembled text (rows stay narrow at any corpus size).
    """
    toks = F.filter(_tokens(F.col(text_col)), lambda x: x != "")
    # drop zero-token docs BEFORE building segs: sequence(0, n_segs-1) with
    # n_segs=0 is sequence(0, -1), which Spark auto-steps DOWN to [0, -1] —
    # an empty doc would otherwise emit two phantom empty segments instead
    # of being dropped (diverging from the oracle's len(toks) > 0 gate)
    t1 = df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks")).filter(
        F.size("__toks") > 0
    )
    n_segs = F.floor(
        (F.size("__toks") + F.lit(seg_tokens - 1)) / F.lit(seg_tokens)
    ).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - F.lit(1)),
        lambda i: F.concat_ws(
            " ", F.slice(F.col("__toks"), i * F.lit(seg_tokens) + 1, F.lit(seg_tokens))
        ),
    )
    t2 = t1.select("doc_id", segs.alias("__segs"))
    # keep segment i iff it does not appear among segments [0, i)
    kept = F.filter(
        F.col("__segs"),
        lambda s, i: F.array_position(F.slice(F.col("__segs"), 1, i), s) == 0,
    )
    t3 = t2.select("doc_id", F.size("__segs").alias("__n_segs"), kept.alias("__kept"))
    return t3.select(
        "doc_id",
        F.col("__n_segs").cast("long").alias("n_segments"),
        (F.col("__n_segs") - F.size("__kept")).cast("long").alias("n_dropped"),
        F.md5(F.concat_ws(" ", F.col("__kept"))).alias("clean_fp"),
    )


def split_assign(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    val_ppm: int = 100_000,
    test_ppm: int = 100_000,
    buckets: int = 10_000,
    seed: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: the id's salted md5 bucket
    partitions the corpus into `test` (first `test_ppm`·buckets/10⁶
    buckets), `val` (next `val_ppm`), `train` (rest). Map-only, pushes to
    the scan, reproducible across engines / retries / repartitioning —
    the only split discipline that survives a 100 TB rerun (rand() and
    row-order splits do not). Salting with `seed` re-rolls the split
    without touching the data.
    """
    h = hash_bucket(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")), buckets)
    test_hi = test_ppm * buckets // 10**6
    val_hi = test_hi + val_ppm * buckets // 10**6
    return df.withColumn(
        "split",
        F.when(h < test_hi, F.lit("test"))
        .when(h < val_hi, F.lit("val"))
        .otherwise(F.lit("train")),
    )


def bpe_pair_counts(
    df: DataFrame,
    *,
    text_col: str = "text",
    top: int = 100,
) -> DataFrame:
    """The inner statistic of BPE vocabulary training (Sennrich et al. 2016):
    adjacent character-pair counts across the corpus, weighted by word
    frequency — ``(l, r, cnt, rank)`` for the `top` pairs. One BPE merge
    round = pick rank 1 and re-segment; this table is the distributed part
    (the merge decision is a driver-side O(1) read of it).

    Scale shape: the corpus COMPRESSES TO ITS VOCABULARY first (token
    explode → (word, cnt) hash-agg, map-side combinable) — every later
    stage is vocabulary-sized, not corpus-sized, which is what makes
    BPE training tractable at 100 TB. Then a per-word pair explode
    (≤ len(word) rows per vocab entry), a pair hash-agg, and a fused
    top-k; no window over unbounded data.
    """
    from query_engine_spark.operators.ordering import stamp_ord

    toks = df.select(F.explode(_tokens(F.col(text_col))).alias("w")).filter(
        F.col("w") != ""
    )
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = (
        vocab.filter(F.length("w") >= 2)
        .select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> struct(substr(w, i, 1) AS l, substr(w, i + 1, 1) AS r))"
                )
            ).alias("p"),
        )
        .select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "cnt")
    )
    pc = pairs.groupBy("l", "r").agg(F.sum("cnt").alias("cnt"))
    limited = pc.orderBy(F.col("cnt").desc(), "l", "r").limit(top)
    ranked = stamp_ord(limited, ["cnt DESC", "l", "r"], bounded=True, out="rank")
    return ranked.select("l", "r", "cnt", "rank")


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer APPLICATION: segment every word to characters and apply an
    ordered merge list — the other half of BPE (`bpe_pair_counts` learns
    the merges; this encodes with them). Returns per-doc
    ``(id, n_words, chars, bpe_tokens)``.

    Semantics (deterministic, engine-portable): each word becomes the
    delimited symbol string ``|h|e|l|l|o|``; merge (l, r) rewrites every
    non-overlapping leftmost ``|l|r|`` to ``|lr|``, one pass per merge in
    priority order (later merges see earlier merges' symbols, e.g.
    ('t','h') then ('th','e')). One pass per merge is the labeled
    simplification of the fixed-point loop — it makes the encode a chain
    of literal `replace` calls that Spark and DuckDB execute identically,
    so the oracle is exact. Entirely JVM-side column expressions: the
    symbol count is derived from the delimiter count, no UDF, map-only
    until the per-doc aggregation.
    """
    toks = _tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("w")).filter(
        F.col("w") != ""
    )
    seg = F.concat(
        F.lit("|"), F.array_join(F.expr("regexp_extract_all(w, '.', 0)"), "|"), F.lit("|")
    )
    for left, right in merges:
        seg = F.replace(seg, F.lit(f"|{left}|{right}|"), F.lit(f"|{left}{right}|"))
    # symbols per word = delimiter count - 1
    n_sym = (F.length(seg) - F.length(F.replace(seg, F.lit("|"), F.lit("")))) - 1
    return (
        base.select("id", F.length("w").alias("chars"), n_sym.alias("n_sym"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("chars").alias("chars"),
            F.sum("n_sym").alias("bpe_tokens"),
        )
    )


def bpe_train(
    df: DataFrame,
    *,
    rounds: int = 6,
    text_col: str = "text",
    driver_vocab_max: int = 4096,
):
    """Iterative BPE vocabulary TRAINING (Sennrich et al. 2016): `rounds`
    merge rounds, each picking the corpus-wide most frequent adjacent
    symbol pair on the CURRENT segmentation and rewriting it — the loop
    that `bpe_pair_counts` is one round of and `bpe_apply` consumes the
    output of. Returns a DataFrame of the learned ordered merge list
    ``(merge_rank, l, r, cnt)``.

    Scale shape: the corpus compresses to its vocabulary once (word →
    count hash-agg, map-side combinable); every round then runs on the
    vocab-sized segmentation table — symbol-pair explode (≤ len(word)
    rows per vocab entry), pair hash-agg, fused top-1 — so round cost is
    O(vocab), not O(corpus), at any corpus size. The argmax pair is a
    driver-side collect of ONE row per round: inherently sequential
    (round i+1's counts depend on round i's merge), the same
    tiny-driver-action-per-iteration shape as the k-means loop; the
    vocab table is persisted across rounds so the corpus explode runs
    once.

    Merge semantics match bpe_apply exactly (delimited symbol string,
    non-overlapping leftmost replace, later rounds see earlier symbols),
    so train → apply composes; ties break (cnt desc, l, r) — total order,
    engine-portable. Pair counts weight by word frequency and count each
    adjacent occurrence (the labeled simplification of overlap handling
    shared with bpe_pair_counts).
    """
    from query_engine_spark.llmdata import tracked_persist

    toks = df.select(F.explode(_tokens(F.col(text_col))).alias("w")).filter(
        F.col("w") != ""
    )
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    seg0 = F.concat(
        F.lit("|"), F.array_join(F.expr("regexp_extract_all(w, '.', 0)"), "|"), F.lit("|")
    )
    vocab = tracked_persist(vocab.select("cnt", seg0.alias("seg")))
    # Small-vocabulary fast path (r17): the merge loop is inherently
    # sequential and ALREADY driver-paced — one argmax collect per round.
    # When the (persisted, model-sized) vocabulary fits a small bound,
    # collect it ONCE and run the rounds locally: 6 vocab-sized Spark jobs
    # + 6 one-row collects become 1 count + 1 collect (the count
    # materializes the persist that round 1 would have paid anyway). The
    # local loop restates the exact distributed semantics — weighted
    # adjacent-pair counts over the delimited symbol string, argmax by
    # (cnt desc, l, r), one non-overlapping leftmost str.replace pass per
    # round (Python str.replace ≡ F.replace ≡ the oracle's replace) — and
    # test_bpe_train_local_path_matches_distributed pins both paths equal.
    # 4096 caps BOTH driver memory (segs ≤ a few hundred KB) and the
    # local loop's Python time; a 100 TB corpus's vocabulary blows the
    # gate and keeps the distributed rounds. The gate itself is one count
    # over the persisted table — model-sized, never the corpus.
    if driver_vocab_max and vocab.count() <= driver_vocab_max:
        segs = [(r["cnt"], r["seg"]) for r in vocab.collect()]
        local_merges: list[tuple[int, str, str, int]] = []
        for rnd in range(1, rounds + 1):
            pc: dict[tuple[str, str], int] = {}
            for cnt, s in segs:
                syms = [x for x in s.split("|") if x]
                for l, r in zip(syms, syms[1:]):
                    pc[(l, r)] = pc.get((l, r), 0) + cnt
            if not pc:
                break
            (l, r), cnt = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            local_merges.append((rnd, l, r, int(cnt)))
            segs = [
                (c, s.replace(f"|{l}|{r}|", f"|{l}{r}|")) for c, s in segs
            ]
        return df.sparkSession.createDataFrame(
            local_merges, "merge_rank long, l string, r string, cnt long"
        )
    merges: list[tuple[int, str, str, int]] = []
    seg = F.col("seg")
    for rnd in range(1, rounds + 1):
        syms = F.filter(F.split(seg, "\\|"), lambda x: x != "")
        cur = vocab.select("cnt", syms.alias("sy")).filter(F.size("sy") >= 2)
        pairs = cur.select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(sy) - 1), "
                    "i -> struct(sy[i - 1] AS l, sy[i] AS r))"
                )
            ).alias("p"),
        ).select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "cnt")
        top = (
            pairs.groupBy("l", "r")
            .agg(F.sum("cnt").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merges.append((rnd, l, r, cnt))
        seg = F.replace(seg, F.lit(f"|{l}|{r}|"), F.lit(f"|{l}{r}|"))
    spark = df.sparkSession
    return spark.createDataFrame(
        merges, "merge_rank long, l string, r string, cnt long"
    )


def domain_mix(
    df: DataFrame,
    *,
    source_col: str = "source",
    text_col: str = "text",
    quant: int = 10**6,
) -> DataFrame:
    """Domain-mixing weight table: per source, document/token counts, the
    proportional token share, and a √-damped sampling weight (w ∝ √tokens —
    the classic uniform↔proportional interpolation used for multilingual /
    multi-domain sampling, and the usual initialization before a learned
    DoReMi-style reweighting). All ratios are integer ppm over exact
    integer totals: isqrt = floor(√tokens) is exact (correctly-rounded
    IEEE sqrt on < 2⁵³ integers), so no float summation order can perturb
    the weights between engines.

    Shape: one corpus scan → per-source hash-agg; totals fold back in as
    ONE broadcast row (the BM25 scalar device) — no driver round-trip.
    """
    per = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(whitespace_token_count(F.col(text_col))).alias("tokens"),
    )
    per = per.withColumn("isqrt", F.floor(F.sqrt("tokens")).cast("long"))
    tot = per.agg(
        F.sum("tokens").alias("tot_tokens"), F.sum("isqrt").alias("tot_isqrt")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "docs",
            "tokens",
            F.expr(f"(tokens * {quant}) div tot_tokens").alias("share_ppm"),
            F.expr(f"(isqrt * {quant}) div tot_isqrt").alias("weight_ppm"),
        )
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int = 100,
    *,
    id_col: str = "doc_id",
    seed: str = "aes",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: k rows drawn
    with probability proportional to `weight_col` (> 0; non-positive rows
    are excluded), via Efraimidis–Spirakis A-ES (IPL 2006): each row gets
    key = ln(u)/w for uniform u, and the k LARGEST keys are the sample.

    "Uniform" u comes from md5(seed:id) — the same engine-portable
    randomness device as `hash_sample` — so the sample is reproducible
    across engines and retries, and re-keyable by changing `seed`.

    One pass, no shuffle until the fused top-k (TakeOrderedAndProject);
    at any scale this is a map-side-combining heap merge, never a global
    sort. Returns the sampled rows + `sample_rank` (1 = first drawn).
    """
    from query_engine_spark.operators.ordering import stamp_ord
    from query_engine_spark.operators.sketches import md5_hash60
    from query_engine_spark.operators.sql import ident

    h = md5_hash60(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    u = F.greatest(h, F.lit(1)).cast("double") / F.lit(float(1 << 60))
    key = F.log(u) / F.col(weight_col)
    keyed = df.filter(F.col(weight_col) > 0).withColumn("__key", key)
    limited = keyed.orderBy(F.col("__key").desc(), F.col(id_col)).limit(k)
    ranked = stamp_ord(limited, ["__key DESC", ident(id_col)], bounded=True, out="sample_rank")
    return ranked.drop("__key")


def tfidf_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    max_df_frac: float = 0.1,
    min_cos: float = 0.2,
    quant: int = 1000,
    max_pairs: int | None = 10_000_000,
) -> DataFrame:
    """All-pairs TF-IDF cosine similarity over an inverted index:
    ``(doc_a, doc_b, cosine)`` for every document pair with cosine ≥
    `min_cos`, doc_a < doc_b.

    TF-IDF weights are QUANTIZED to integers (``floor(tf·ln(N/df)·quant)``)
    before any sum: integer dot products are order-independent, so two
    engines summing postings in different orders agree bit-for-bit —
    float dot products would drift in the last ulp and flip rounded
    output at boundaries (repo determinism convention).

    Scale shape (Bayardo et al., WWW'07 all-pairs similarity): the
    self-join is keyed on the TERM, and stop terms are dropped first —
    df > `max_df` if given, else df > `max_df_frac`·N with the corpus
    size N computed IN-PLAN (a fixed absolute cap silently tightens to
    nothing as the corpus grows; the fractional cap keeps the same
    "drop terms in >10% of docs" meaning at any scale). Per-term
    fan-out is then ≤ cap², so hub terms never explode the join. N rides
    as a broadcast one-row scalar; document norms join back on the id
    key. With `quant`=1000, weights stay < ~10⁶ and a million-term
    document's norm² < 10¹⁸ — inside int64; raise `quant` only with
    shorter docs.

    Pair-explosion guard: the FRACTIONAL cap has a growth-law hazard —
    if vocabulary doesn't track corpus growth, `0.1·N` admits hub terms
    whose postings square. `max_pairs` bounds the candidate-pair upper
    bound Σ df·(df−1)/2 over the surviving vocabulary with an IN-PLAN
    `assert_true`: the mass scalar is a vocab-sized aggregate broadcast
    onto the term table, so the assertion fires while the broadcast side
    of the posting join is being built — i.e. the job fails LOUDLY
    *before* the quadratic term-keyed shuffle is ever emitted, naming
    the bound and the fix. `max_pairs=None` disables (trusted caps).
    """
    toks = _tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("t")).filter(
        F.col("t") != ""
    )
    # NOTE (r16 measurement): persisting `tf`/`w` for their multiple
    # consumers was tried and measured NEUTRAL-to-worse at sf0.1 (1.99 s
    # unpersisted vs 2.09 s persisted) — ReuseExchange already dedups the
    # repeated subtrees at runtime; the plan-string scan count overstates
    # the real work (the r8 pagerank lesson). Left unpersisted on purpose.
    tf = base.groupBy("id", "t").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    cap = (
        F.lit(max_df)
        if max_df is not None
        else F.greatest(F.lit(2), F.floor(F.lit(max_df_frac) * F.col("__n")))
    )
    dfreq = (
        tf.groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter((F.col("df") >= 2) & (F.col("df") <= cap))
        .select("t", "df")
    )
    if max_pairs is not None:
        # candidate-pair upper bound Σ df·(df−1)/2 over the surviving vocab —
        # a vocab-sized agg, broadcast as a one-row scalar. assert_true lives
        # in a FILTER (not a dropped column, which Catalyst would prune), so
        # it evaluates while the dfreq broadcast is built — before the
        # term-keyed pair shuffle exists. dfreq is persisted (vocab-sized,
        # tiny) because both the mass aggregate and the posting join consume
        # it — otherwise the tokenize+groupBy('t') stage runs twice.
        from query_engine_spark.llmdata import tracked_persist

        dfreq = tracked_persist(dfreq)
        mass = dfreq.agg(
            F.sum(F.col("df").cast("double") * (F.col("df") - 1) / 2).alias("__mass")
        )
        guard = F.assert_true(
            F.coalesce(F.col("__mass"), F.lit(0.0)) <= F.lit(float(max_pairs)),
            F.format_string(
                "tfidf_pairs: candidate-pair upper bound %.0f exceeds "
                "max_pairs=%d — the df cap does not bound the term join for "
                "this corpus/vocabulary (hub terms survived). Pass an "
                "absolute max_df sized to the corpus, lower max_df_frac, or "
                "raise max_pairs explicitly.",
                F.col("__mass"),
                F.lit(max_pairs),
            ),
        )
        dfreq = dfreq.crossJoin(F.broadcast(mass)).filter(guard.isNull()).drop("__mass")
    w = (
        tf.join(F.broadcast(dfreq), "t")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "t",
            "id",
            F.floor(
                F.col("tf") * F.log(F.col("__n") / F.col("df")) * F.lit(quant)
            ).cast("bigint").alias("wq"),
        )
        .filter(F.col("wq") > 0)
    )
    norms = w.groupBy("id").agg(F.sum(F.col("wq") * F.col("wq")).alias("ssq"))
    a = w.select(F.col("t"), F.col("id").alias("doc_a"), F.col("wq").alias("wa"))
    b = w.select(F.col("t"), F.col("id").alias("doc_b"), F.col("wq").alias("wb"))
    dots = (
        a.join(b, "t")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("id").alias("doc_a"), F.col("ssq").alias("ssq_a"))
    nb = norms.select(F.col("id").alias("doc_b"), F.col("ssq").alias("ssq_b"))
    cos = F.col("dot") / (F.sqrt(F.col("ssq_a")) * F.sqrt(F.col("ssq_b")))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= min_cos)
    )


def train_hashed_classifier(
    docs: DataFrame,
    label: Column,
    *,
    text_col: str = "text",
    n_buckets: int = 4096,
    quant: int = 1_000_000,
) -> DataFrame:
    """Train a fastText-style hashing-trick linear text classifier
    (Joulin et al. 2016's bag-of-hashed-tokens model family) entirely
    in-plan: per-bucket Naive-Bayes count weights, no gradient loop.

    `label` is a boolean Column over `docs` (the positive class).
    Weight of bucket b = floor(quant·(n_pos(b)+1)/(n_tot(b)+2)) − quant/2 —
    a centered Laplace-smoothed class probability in exact integers (repo
    convention: no transcendentals, so Spark and any SQL oracle agree
    bit-for-bit; a log-odds weight would hit cross-engine ln() ulps).

    Shape at 100 TB: one token explode (map-only) → ONE hash-agg keyed by
    bucket with map-side combine; the model is `n_buckets` rows — megabytes
    for any corpus size, always broadcastable at serving time. That is the
    whole point of the hashing trick: model size is decoupled from
    vocabulary size, so no vocab table ever shuffles.

    Returns (bkt, w_q).
    """
    # Materialize the label BELOW the explode: putting `label` in the same
    # select as the explode makes it a post-Generate projection, so a
    # heavy label expression (the quality-score column is dozens of string
    # ops) re-evaluates PER TOKEN ROW — measured 12.3 s → 0.7 s at sf0.1
    # for the curation classifier stage. Same family as the round-6
    # HOF-lambda finding: expressions must cross a projection boundary
    # BEFORE the row-multiplying operator.
    labeled = docs.select(label.alias("__pos"), F.col(text_col).alias("__text"))
    toks = labeled.select(
        "__pos", F.explode(_tokens(F.col("__text"))).alias("t")
    ).filter(F.col("t") != "")
    counts = (
        toks.select("__pos", hash_bucket(F.col("t"), n_buckets).alias("bkt"))
        .groupBy("bkt")
        .agg(
            F.sum(F.when(F.col("__pos"), 1).otherwise(0)).alias("n_pos"),
            F.count(F.lit(1)).alias("n_tot"),
        )
    )
    w = F.floor((F.col("n_pos") + 1) * quant / (F.col("n_tot") + 2)).cast("long")
    return counts.select("bkt", (w - quant // 2).alias("w_q"))


def hashed_classifier_score(
    docs: DataFrame,
    weights: DataFrame,
    prior_label: Column | None = None,
    *,
    prior_q: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    quant: int = 1_000_000,
) -> DataFrame:
    """Inference for `train_hashed_classifier`: per-doc mean bucket weight
    plus the class prior, in exact integers.

    score_q(doc) = prior_q + floor(Σ w_q(bkt(token)) / n_tokens);
    prior_q = floor(quant·(P+1)/(P+N+2)) − quant/2 over the scored corpus
    (`prior_label` marks positives) — or pass the trained `prior_q`
    directly. Exactly one of `prior_label` / `prior_q` must be given.
    Prediction = score_q > 0. In batch, token-less docs keep the prior
    (LEFT join back to `docs`).

    Shape: token explode → broadcast join against the n_buckets-row model
    (never a shuffle on the text side's vocabulary) → one doc-keyed agg →
    left join to re-attach empty docs. The model join is THE serving path
    for quality-filter classifiers at 100 TB: map-only against a broadcast
    table, so scoring runs at scan speed.

    STREAMING: `docs` may be a streaming DataFrame — the production
    quality-gate shape (train offline, score the firehose). Requires a
    precomputed `prior_q` (an agg over an unbounded stream is ill-defined)
    and uses one stateful operator only: the stream-static model join is
    stateless, then a single doc-keyed agg. Token-less docs don't surface
    (a stream can't left-join back to itself).

    Returns (id_col, n_tokens, score_q, pred).
    """
    if (prior_label is None) == (prior_q is None):
        raise ValueError("pass exactly one of prior_label / prior_q")
    if docs.isStreaming and prior_q is None:
        raise ValueError(
            "streaming scoring needs a precomputed prior_q — train offline "
            "with train_hashed_classifier and a batch prior"
        )
    toks = docs.select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("t")
    ).filter(F.col("t") != "")
    # LEFT join: a token whose bucket the training corpus never populated
    # (possible whenever the model is trained offline and scores NEW data)
    # must still count in n_tokens and dilute the mean with weight 0 — an
    # inner join would let one in-vocabulary token drive the whole score
    agg = (
        toks.select(id_col, hash_bucket(F.col("t"), n_buckets).alias("bkt"))
        .join(F.broadcast(weights), "bkt", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce("w_q", F.lit(0))).alias("sum_w_q"),
        )
    )
    mean_w = F.floor(F.col("sum_w_q") / F.col("n_tokens")).cast("long")
    if docs.isStreaming:
        scored = agg.select(
            id_col, "n_tokens", (F.lit(prior_q) + mean_w).alias("score_q")
        )
        return scored.withColumn("pred", F.col("score_q") > 0)
    scored = agg.select(id_col, "n_tokens", mean_w.alias("mean_w_q"))
    base = docs.select(id_col).join(scored, id_col, "left")
    if prior_q is not None:
        prior_col = F.lit(prior_q)
    else:
        prior = docs.agg(
            (
                F.floor(
                    (F.sum(F.when(prior_label, 1).otherwise(0)) + 1)
                    * quant
                    / (F.count(F.lit(1)) + 2)
                ).cast("long")
                - quant // 2
            ).alias("prior_q")
        )
        base = base.crossJoin(F.broadcast(prior))
        prior_col = F.col("prior_q")
    out = base.select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        (prior_col + F.coalesce("mean_w_q", F.lit(0))).alias("score_q"),
    )
    return out.withColumn("pred", F.col("score_q") > 0)


def dsir_weights(
    docs: DataFrame,
    target: DataFrame | None = None,
    *,
    ratios: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    quant: int = 1_000_000,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score each raw doc by how much its hashed-bigram
    distribution looks like the `target` corpus relative to the raw corpus.

    Per-bucket importance ratio in exact bigint arithmetic:
        r_q(b) = floor( (n_t(b)+1)·(N_r+B)·quant / ((n_r(b)+1)·(N_t+B)) )
    (Laplace-smoothed target/raw probability ratio, quant ≙ ratio 1.0).
    Doc weight = floor(Σ_grams r_q(bkt(gram)) / n_grams) — the paper's
    log-domain product becomes a linear-domain mean here, the repo's
    standing trade (exact integers over transcendentals) so the oracle
    hash-matches; ranking is what resampling consumes and the mean ratio
    preserves the paper's monotone "target-like" ordering for same-length
    docs. Overflow bound: (n_t+1)·(N_r+B)·quant must stay < 2⁶³ — holds to
    ~10¹² raw grams at quant=10⁶; shrink quant at larger scale.

    Shape at 100 TB: two gram explodes (target is the small curated corpus)
    → ONE bucket-keyed agg each (map-side combine, n_buckets output rows)
    → the two n_buckets-row ratio tables broadcast-join back to the raw
    gram stream → one doc-keyed agg. The raw corpus never shuffles its
    grams by vocabulary; weighting runs at scan speed like `hash_sample`.
    Feed the result to `weighted_sample` (Efraimidis-Spirakis) for the
    paper's final resample step.

    STREAMING: pass a precomputed `ratios` table (bkt, r_q) — train it
    offline with this same function's batch form (its `ratios` subplan) or
    any snapshot — and `docs` may be a stream: the gram explode is
    stateless, the ratio join broadcasts, and the doc-keyed agg is the one
    stateful operator. Exactly one of `target` / `ratios` must be given;
    computing ratio tables over an unbounded stream is ill-defined.

    Returns (id_col, n_grams, dsir_weight_q) for docs with ≥1 bigram.
    """
    if (target is None) == (ratios is None):
        raise ValueError("pass exactly one of target / ratios")
    if docs.isStreaming and ratios is None:
        raise ValueError(
            "streaming DSIR needs a precomputed ratios table — train offline"
        )
    B = n_buckets

    def grams(df: DataFrame, *cols: Column) -> DataFrame:
        g = df.select(*cols, F.explode(word_shingles(F.col(text_col), 2)).alias("g"))
        return g.select(*[c for c in g.columns if c != "g"], hash_bucket(F.col("g"), B).alias("bkt"))

    doc_grams = grams(docs, F.col(id_col))
    if ratios is not None:
        return (
            doc_grams.join(F.broadcast(ratios), "bkt")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.floor(F.sum("r_q") / F.count(F.lit(1))).cast("long").alias("dsir_weight_q"),
            )
        )
    tgt = grams(target).groupBy("bkt").agg(F.count(F.lit(1)).alias("n_t"))
    # raw counts derive from the SAME exploded subtree the per-doc weighting
    # reads — two corpus-scale explodes total (target + raw), not three
    raw = doc_grams.groupBy("bkt").agg(F.count(F.lit(1)).alias("n_r"))
    ratio_tbl = _dsir_ratios(raw, tgt, B, quant)
    return (
        doc_grams.join(F.broadcast(ratio_tbl), "bkt")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.floor(F.sum("r_q") / F.count(F.lit(1))).cast("long").alias("dsir_weight_q"),
        )
    )


def _dsir_ratios(raw: DataFrame, tgt: DataFrame, B: int, quant: int) -> DataFrame:
    """(bkt, r_q) from the two bucket-count tables — the ONE definition of
    the smoothed ratio formula (batch scoring, offline training, and the
    oracle must agree on it). Raw buckets left-join target counts (buckets
    the target never hit get the smoothed floor); totals fold in as
    broadcast scalars."""
    n_t_total = tgt.agg(F.sum("n_t").alias("nt_total"))
    n_r_total = raw.agg(F.sum("n_r").alias("nr_total"))
    return (
        raw.join(tgt, "bkt", "left")
        .crossJoin(F.broadcast(n_t_total))
        .crossJoin(F.broadcast(n_r_total))
        .select(
            "bkt",
            F.floor(
                (F.coalesce("n_t", F.lit(0)) + 1)
                * (F.col("nr_total") + B)
                * quant
                / ((F.col("n_r") + 1) * (F.col("nt_total") + B))
            )
            .cast("long")
            .alias("r_q"),
        )
    )


def dsir_ratio_table(
    docs: DataFrame,
    target: DataFrame,
    *,
    text_col: str = "text",
    n_buckets: int = 4096,
    quant: int = 1_000_000,
) -> DataFrame:
    """Offline DSIR training: the (bkt, r_q) importance-ratio table from a
    raw-corpus snapshot and a target corpus — persist it, then stream-score
    the firehose with ``dsir_weights(stream, ratios=table)``."""
    def grams(df: DataFrame) -> DataFrame:
        g = df.select(F.explode(word_shingles(F.col(text_col), 2)).alias("g"))
        return g.select(hash_bucket(F.col("g"), n_buckets).alias("bkt"))

    tgt = grams(target).groupBy("bkt").agg(F.count(F.lit(1)).alias("n_t"))
    raw = grams(docs).groupBy("bkt").agg(F.count(F.lit(1)).alias("n_r"))
    return _dsir_ratios(raw, tgt, n_buckets, quant)


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character k-gram, slide a
    window of `w` consecutive hashes, and keep each window's minimum
    (rightmost on ties, per the paper). Guarantee: any match of length
    ≥ w + k − 1 between two documents shares at least one fingerprint,
    with ~2/(w+1) of positions selected — position-robust dedup/plagiarism
    signatures at a fraction of full-gram cost.

    Engine-portable rightmost-min: each (hash, pos) is packed into one
    bigint ``h·2²⁰ + (2²⁰ − pos)`` so a plain integer MIN picks the lowest
    hash and breaks ties toward the LARGER position; the pack is inverted
    exactly with div/mod (doc offsets must stay < 2²⁰ ≈ 1M chars — chunk
    longer docs first with `chunk_documents`).

    Shape at 100 TB: one position explode + ONE doc-keyed shuffle carrying
    the (pos, hash) stream — the w-row running MIN and the final DISTINCT
    both ride that same partitioning (same single-exchange discipline as
    `duplicated_spans`). Fingerprint volume is ~2/(w+1) of gram volume, so
    downstream match-joins touch a fraction of the data full-gram methods
    shuffle. Returns (id_col, fpos, fph) — the distinct selected
    fingerprints; docs shorter than w+k−1 produce none (no full window).
    """
    from pyspark.sql import Window as _W

    pack = 1 << 20
    base = docs.select(F.col(id_col), F.lower(F.col(text_col)).alias("t")).select(
        id_col, "t", (F.length("t") - (k - 1)).alias("ng")
    )
    g = base.select(
        id_col,
        "ng",
        F.explode(F.sequence(F.lit(1), F.greatest(F.col("ng"), F.lit(0)))).alias("pos"),
        "t",
    ).select(
        id_col,
        "ng",
        "pos",
        F.conv(
            F.substring(F.md5(F.expr(f"substring(t, pos, {k})")), 1, 8), 16, 10
        )
        .cast("long")
        .alias("h"),
    )
    enc = F.col("h") * pack + (pack - F.col("pos"))
    win = _W.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    sel = (
        g.withColumn("m", F.min(enc).over(win))
        .filter(F.col("pos") <= F.col("ng") - (w - 1))  # full windows only
        .select(
            id_col,
            (F.lit(pack) - F.col("m") % pack).alias("fpos"),
            F.expr(f"m div {pack}").alias("fph"),  # exact bigint unpack
        )
    )
    return sel.distinct()


def top_terms(
    df: DataFrame,
    k: int = 100,
    *,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Vocabulary building: top-k tokens by frequency → (term, cnt, rank).

    explode → one hash-keyed aggregate (map-side partial) → fused top-k
    (TakeOrderedAndProject) → dense rank over the k survivors only.
    """
    from query_engine_spark.operators.ordering import stamp_ord

    toks = df.select(F.explode(_tokens(F.col(text_col))).alias("term")).filter(F.col("term") != "")
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt")).filter(F.col("cnt") >= min_count)
    limited = counts.orderBy(F.col("cnt").desc(), F.col("term")).limit(k)
    return stamp_ord(limited, ["cnt DESC", "term"], bounded=True, out="rank").select(
        "term", "cnt", "rank"
    )


def nfc_normalize_features(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unicode NFC normalization pass (the first stage of every serious
    text-cleaning pipeline: crawled HTML mixes precomposed and combining
    sequences freely, and un-normalized text splits dedup hashes and
    tokenizer merges for byte-identical-looking strings). Spark SQL has
    no normalization builtin, so this is the documented exception to the
    pure-Column rule: one Arrow `mapInPandas` pass (map-only, the same
    plan shape as the codec stages) applying stdlib
    `unicodedata.normalize("NFC", ...)`; the DuckDB oracle replays it
    with `nfc_normalize()` (both implement UAX #15, cross-checked in
    tests). Emits codepoint counts before/after, a changed flag, and the
    md5 of the normalized text."""
    import hashlib
    import unicodedata
    from collections.abc import Iterator as _It

    import pandas as _pd

    def run(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        for pdf in batches:
            norm = [unicodedata.normalize("NFC", str(t)) for t in pdf[text_col]]
            yield _pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "chars_raw": [len(str(t)) for t in pdf[text_col]],
                    "chars_nfc": [len(n) for n in norm],
                    "changed": [
                        int(n != str(t)) for n, t in zip(norm, pdf[text_col])
                    ],
                    "fp": [
                        hashlib.md5(n.encode("utf-8")).hexdigest() for n in norm
                    ],
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        run, f"{id_col} long, chars_raw long, chars_nfc long, changed int, fp string"
    )
