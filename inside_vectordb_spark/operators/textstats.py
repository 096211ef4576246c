"""Text-analysis operators for training-data pipelines.

Beyond-reference extension suite: language ID (stopword-overlap
heuristic), quality scoring, token counting (whitespace + regex
"BPE-ish" pre-tokenizer), document fingerprinting. All native
Catalyst expressions — portable, oracle-checkable, no Python row
path, embarrassingly parallel (per-row map, zero shuffles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from inside_vectordb_spark.functions.text import tokenize, token_count

# Tiny per-language stopword marker sets. The heuristic is the point
# (n-gram/stopword overlap scoring), not linguistic accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un"),
}

# A BPE-ish pre-tokenizer: word pieces, numbers, or single non-space
# symbols — the usual GPT-2-style pre-split shape, kept regex-portable.
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]"  # explicit ws class: Java \\s has \\x0B, RE2 does not (review r9-6)


def _marker_hits(toks: Column, lang: str) -> Column:
    """Occurrence count (with multiplicity) of lang markers."""
    markers = list(LANG_MARKERS[lang])
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def lang_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds score_<lang> columns: marker-hit ratio per language."""
    toks = tokenize(text_col)
    n = token_count(text_col)
    out = docs
    for lang in LANG_MARKERS:
        out = out.withColumn(
            f"score_{lang}",
            F.round(
                F.when(n == 0, F.lit(0.0)).otherwise(
                    _marker_hits(toks, lang).cast("double") / n
                ),
                6,
            ),
        )
    return out


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, score_en, score_de, score_fr, pred_lang): argmax of
    marker ratios, ties broken by language code order (en<de<fr by
    priority: earlier wins ties — deterministic)."""
    scored = lang_scores(docs, text_col)
    pred = (
        F.when(
            (F.col("score_en") >= F.col("score_de"))
            & (F.col("score_en") >= F.col("score_fr")),
            F.lit("en"),
        )
        .when(F.col("score_de") >= F.col("score_fr"), F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return scored.select(
        F.col(id_col).alias("doc_id"),
        "score_en",
        "score_de",
        "score_fr",
        pred.alias("pred_lang"),
    )


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens): whitespace tokens and
    BPE-ish regex pre-tokens (``regexp_extract_all`` — JVM regex)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        token_count(text_col).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)).alias(
            "n_bpe_tokens"
        ),
    )


# seq_id block size per shard: bigint holds 4096 shards × 1e12 blocks
# with room to spare; 1e12 sequences/shard is unreachable even at
# 100 TB (a 512-token budget × 1e12 sequences = 5e14 tokens/shard).
_SEQS_PER_SHARD_BLOCK = 1_000_000_000_000


def pack_sequences(
    docs: DataFrame,
    n_shards: int | None = None,
    budget: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget sequence packing (the sample-packing step before
    LLM training): (doc_id, shard, seq_id, n_ws_tokens), docs
    assigned to sequences by START OFFSET in the running token count,
    deterministically ordered by id WITHIN id-hash shards. Offset
    bucketing means a doc that STRADDLES a budget boundary joins the
    sequence it starts in, so a sequence's total can exceed
    ``budget`` by up to one document — the streaming-friendly
    contract (t5x/seqio-style pack-then-truncate): consumers truncate
    or wrap the overflow, and no per-row sequential close-out state
    is needed. A strict close-at-budget greedy packer is inherently
    sequential per shard; this form stays one window expression
    (review r7 docstring honesty fix; the overflow behavior is pinned
    by tests/test_textquality.py).

    ``n_shards`` bounds the packing window's parallelism — a global
    orderBy window would serialize on one task at 100 TB; per-shard
    packing is what production packers do (pack within a shard/file,
    never globally). Defaults to 4× the cluster's default parallelism
    so the running-sum stage always has more shards than cores; pass
    an explicit value when the output layout (shard == output file)
    matters."""
    if n_shards is None:
        n_shards = 4 * docs.sparkSession.sparkContext.defaultParallelism
    from pyspark.sql import Window

    toks = token_counts(docs, id_col=id_col, text_col=text_col).select(
        "doc_id", "n_ws_tokens"
    )
    t = toks.withColumn("shard", (F.col("doc_id") % n_shards).cast("int"))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_ws_tokens").over(w)
    return t.select(
        "doc_id",
        "shard",
        (F.col("shard").cast("bigint") * _SEQS_PER_SHARD_BLOCK
         + F.floor((cum - F.col("n_ws_tokens")) / budget)).alias("seq_id"),
        "n_ws_tokens",
    )


def _quality_parts(text_col: str):
    """The quality heuristic's component expressions:
    (n, avg_wl, stop_ratio, alpha_ratio, quality).

    Built as parsed SQL strings (optimization r12): the Column form
    cost ~100 py4j round trips per construction; the SQL form is a
    handful, with identical Catalyst semantics — every float literal
    carries the ``D`` suffix so arithmetic stays DOUBLE (a bare SQL
    ``0.25`` would parse as DECIMAL and change the rounding chain)."""
    from ..functions.vector import sql_ident

    text_col = sql_ident(text_col)
    toks = r"array_remove(split(%s, '[ \\t\\n\\f\\r]+'), '')" % text_col
    n = f"CAST(size({toks}) AS DOUBLE)"
    n_alpha = f"length(regexp_replace({text_col}, '[^A-Za-z]', ''))"
    n_nonspace = (
        r"length(regexp_replace(%s, '[ \\t\\n\\f\\r]', ''))" % text_col
    )
    stop_hits = (
        f"CAST(size(filter({toks}, t -> t IN "
        f"('the', 'a', 'and', 'of', 'to', 'is'))) AS DOUBLE)"
    )
    avg_wl = f"CASE WHEN {n} = 0 THEN 0.0D ELSE {n_nonspace} / {n} END"
    stop_ratio = f"CASE WHEN {n} = 0 THEN 0.0D ELSE {stop_hits} / {n} END"
    alpha_ratio = (
        f"CASE WHEN {n_nonspace} = 0 THEN 0.0D "
        f"ELSE CAST({n_alpha} AS DOUBLE) / {n_nonspace} END"
    )
    # in-range word count [3..13 avg len], some-but-not-too-many
    # stopwords, mostly alphabetic ⇒ high quality
    length_ok = f"CASE WHEN ({n} >= 5 AND {n} <= 1000) THEN 1.0D ELSE 0.0D END"
    wl_ok = (
        f"CASE WHEN (({avg_wl}) >= 2.0D AND ({avg_wl}) <= 13.0D) "
        f"THEN 1.0D ELSE 0.0D END"
    )
    quality = (
        f"round(0.25D * ({length_ok}) + 0.25D * ({wl_ok}) "
        f"+ 0.25D * least(({stop_ratio}) * 5, 1.0D) "
        f"+ 0.25D * ({alpha_ratio}), 6)"
    )
    return (
        F.expr(n),
        F.expr(avg_wl),
        F.expr(stop_ratio),
        F.expr(alpha_ratio),
        F.expr(quality),
    )


def quality_expr(text_col: str = "text") -> Column:
    """The [0,1] quality score as a single reusable Catalyst
    expression — lets pipelines gate on quality as a pure projection
    (zero shuffle, no self-join against ``quality_scores``)."""
    return _quality_parts(text_col)[4]


def quality_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_words, avg_word_len, stopword_ratio, alpha_ratio,
    quality): length/stopword/alpha heuristics combined into one
    [0,1] score — the standard cheap quality gate before expensive
    pipeline stages."""
    n, avg_wl, stop_ratio, alpha_ratio, quality = _quality_parts(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n.cast("int").alias("n_words"),
        F.round(avg_wl, 6).alias("avg_word_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        quality.alias("quality"),
    )


# PII patterns kept to syntax valid in both Java regex (Spark) and
# RE2 (DuckDB): no backreferences, no lookaround.
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
PII_IPV4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"


def pii_redact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_emails, n_phones, n_ips, redacted_hash): counts of
    email/phone/IPv4 matches and the md5 of the text with each class
    replaced by a typed placeholder. The scrub every training corpus
    runs before release — pure Catalyst ``regexp_replace`` chain, per
    row, zero shuffle, so it composes with any scan at 100 TB. Order
    of replacement is fixed (email → phone → ip) so the output is
    deterministic even when patterns could overlap; each class's
    COUNT is taken on the text the redaction chain actually hands it
    (phones on the email-redacted text, ips on the email+phone-
    redacted text), so every count equals the number of placeholders
    the redaction inserted — a phone digit-run inside an email local
    part is the email's match, not a phone (review r7)."""
    text = F.col(text_col)
    after_email = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    after_phone = F.regexp_replace(after_email, PII_PHONE, "<PHONE>")
    redacted = F.regexp_replace(after_phone, PII_IPV4, "<IP>")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(after_email, F.lit(PII_PHONE), 0)).alias(
            "n_phones"
        ),
        F.size(F.regexp_extract_all(after_phone, F.lit(PII_IPV4), 0)).alias(
            "n_ips"
        ),
        F.md5(redacted).alias("redacted_hash"),
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_words, dup_word_frac, top_bigram_frac): the
    Gopher-style repetition signals — fraction of tokens that are
    repeats of an earlier token, and the share of all word bigrams
    taken by the single most frequent bigram. High values flag
    boilerplate/spam for removal before training.

    Scale shape: dup_word_frac is pure per-row array math (zero
    shuffle). top_bigram_frac explodes bigrams and aggregates twice,
    both keyed by doc_id — per-document cardinality, so partitions
    stay bounded by document length, never by corpus size."""
    from inside_vectordb_spark.functions.text import tokenize

    toks = tokenize(text_col)
    n = token_count(text_col)
    dup_frac = F.when(n == 0, F.lit(0.0)).otherwise(
        (n - F.size(F.array_distinct(toks))).cast("double") / n
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        n.alias("n_words"),
        F.round(dup_frac, 6).alias("dup_word_frac"),
    )
    # bigrams WITH multiplicity through the hoisted-tokenization
    # stream: inlining the bigram transform into the generator
    # re-evaluates the split per emitted row — the repo's documented
    # O(len²) explode hazard (review r7; see word_ngram_stream)
    from inside_vectordb_spark.functions.text import word_ngram_stream

    per_bigram = (
        word_ngram_stream(docs, id_col, text_col, 2, distinct=False)
        .select(F.col(id_col).alias("doc_id"), F.col("gram").alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
    )
    top = per_bigram.groupBy("doc_id").agg(
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top_bigram_frac")
    )
    return base.join(top, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "dup_word_frac",
        F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """(doc_id, n_shingles, n_overlap, contamination): training docs
    whose word n-gram shingle sets overlap a held-out evaluation set
    above ``threshold`` — benchmark decontamination, the audit every
    LLM data pipeline runs so eval answers aren't in the training mix.

    Scale shape: the eval side reduces to its DISTINCT shingle set
    (benchmark suites are tiny next to a 100 TB corpus), which is
    broadcast — the corpus explodes its shingles map-side, LEFT-joins
    the broadcast with a hit marker, and ONE doc_id aggregation
    yields both the shingle count (shingles are distinct per doc, so
    count(*) == set size) and the overlap count. The corpus is
    scanned once and never shuffled except for that per-doc count —
    a self-join formulation would evaluate the shingle transform per
    branch and scan the corpus twice."""
    from pyspark.sql.functions import broadcast

    from inside_vectordb_spark.functions.text import word_ngram_stream

    ev = (
        word_ngram_stream(eval_docs, id_col, text_col, n)
        .select(F.col("gram").alias("sh"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    ex = word_ngram_stream(docs, id_col, text_col, n).select(
        F.col(id_col).alias("doc_id"), F.col("gram").alias("sh")
    )
    return (
        ex.join(broadcast(ev), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_shingles"),
            F.count("__hit").cast("int").alias("n_overlap"),
        )
        .filter(F.col("n_overlap") > 0)
        .withColumn(
            "contamination",
            F.round(F.col("n_overlap").cast("double") / F.col("n_shingles"), 6),
        )
        .filter(F.col("contamination") >= threshold)
        .select("doc_id", "n_shingles", "n_overlap", "contamination")
    )


def doc_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, fingerprint): order-insensitive content fingerprint —
    md5 over the sorted distinct token set. Survives token reordering
    and duplication; the cheap 'same bag of words' key."""
    toks = F.array_sort(F.array_distinct(tokenize(text_col)))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.concat_ws(" ", toks)).alias("fingerprint"),
    )


# Karp-Rabin / winnowing constants: polynomial rolling hash over
# character k-grams, base 263, mod 2^31-1. Literal power table so the
# hash is a plain integer sum — exact (< 2^42 pre-modulo) and
# identical in any 64-bit engine, no fold-order dependence.
WINNOW_K = 8
WINNOW_W = 4
WINNOW_BASE = 263
WINNOW_P = 2_147_483_647
WINNOW_POWS = [pow(WINNOW_BASE, WINNOW_K - 1 - j, WINNOW_P) for j in range(WINNOW_K)]


def winnowing_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_fps, fp_csv): MOSS-style winnowing fingerprints —
    Karp-Rabin rolling hash over all character 8-grams, then the
    minimum hash of every 4-hash sliding window, distinct and sorted.
    The standard local-similarity fingerprint (Schleimer et al. '03):
    any shared substring of length ≥ k + w − 1 guarantees a shared
    fingerprint, which bag-of-words hashing (``doc_fingerprints``)
    cannot promise.

    Pure Catalyst: two ``transform`` passes over positions (no
    explode, no shuffle — a narrow projection); the selection is
    deterministic, so fingerprints are join keys for plagiarism /
    near-dup candidate generation at scale."""
    txt = F.col(text_col)
    m = F.length(txt) - WINNOW_K + 1  # number of k-grams

    def gram_hash(i):
        total = None
        for j, p in enumerate(WINNOW_POWS):
            # long arithmetic: ascii()*pow overflows int32 under ANSI
            term = F.ascii(txt.substr(i + j, F.lit(1))).cast("long") * F.lit(p).cast(
                "long"
            )
            total = term if total is None else total + term
        return (total % WINNOW_P).cast("long")

    H = F.when(m < 1, F.array().cast("array<long>")).otherwise(
        F.transform(F.sequence(F.lit(1), F.greatest(m, F.lit(1))), gram_hash)
    )
    base = docs.select(F.col(id_col).alias("doc_id"), H.alias("__H"))
    n_win = F.greatest(F.size("__H") - WINNOW_W + 1, F.lit(1))
    mins = F.when(F.size("__H") == 0, F.array().cast("array<long>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_win),
            lambda i: F.array_min(F.slice("__H", i, WINNOW_W)),
        )
    )
    fps = F.array_sort(F.array_distinct(mins))
    return base.select(
        "doc_id",
        F.size(fps).alias("n_fps"),
        F.concat_ws(",", F.transform(fps, lambda x: x.cast("string"))).alias(
            "fp_csv"
        ),
    )


def distinct_ngram_ratios(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_n: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Corpus diversity: distinct-n ratios (Li et al. '16 distinct-1/2;
    the standard repetitiveness/diversity number corpus datasheets
    report). One row per gram width: (n, total_grams, distinct_grams,
    distinct_ratio). Distinctness counts md5s, not gram strings, so
    the count-distinct shuffle carries 32-char hashes — never gram
    text (md5 collisions are formally part of the metric; the oracle
    counts the same md5s)."""
    from inside_vectordb_spark.functions.text import word_ngram_stream

    out = None
    for n in range(1, max_n + 1):
        g = (
            word_ngram_stream(docs, id_col, text_col, n, distinct=False)
            .filter(F.col("gram") != "")
            .select(F.md5("gram").alias("gh"))
        )
        row = g.agg(
            F.lit(n).alias("n"),
            F.count("*").alias("total_grams"),
            F.count_distinct("gh").alias("distinct_grams"),
        ).select(
            "n",
            "total_grams",
            "distinct_grams",
            F.round(
                F.col("distinct_grams") / F.col("total_grams"), round_to
            ).alias("distinct_ratio"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def source_term_kl(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n_buckets: int = 1024,
    alpha: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Per-source domain skew: KL(P_source || P_corpus) over
    md5-bucketed unigram distributions with add-alpha smoothing — the
    number a mixture designer reads before setting per-source
    sampling temperatures (pairs with ``temperature_mixture``).

    The smoothed sum runs over the FULL bucket lattice (sources ×
    range(n_buckets), all broadcast-scale) — not just observed
    buckets: both smoothed distributions then normalize to 1 over the
    same support, so Gibbs' inequality holds and kl_nats ≥ 0 by
    construction. Returns (source, n_tokens, kl_nats)."""
    from inside_vectordb_spark.operators.traindata import _md5_bucket

    spark = docs.sparkSession
    toks = (
        docs.select(
            F.col(source_col).alias("source"),
            F.explode(tokenize(F.col(text_col))).alias("term"),
        )
        .filter(F.col("term") != "")
        .select("source", _md5_bucket(F.col("term"), ":kl", n_buckets).alias("b"))
    )
    cb = toks.groupBy("b").agg(F.count("*").alias("cc"))
    ctot = toks.agg(F.count("*").alias("nc"))
    sb = toks.groupBy("source", "b").agg(F.count("*").alias("cs"))
    stot = toks.groupBy("source").agg(F.count("*").alias("ns"))
    buckets = spark.range(n_buckets).select(F.col("id").alias("b"))
    lattice = (
        stot.crossJoin(F.broadcast(buckets))
        .join(F.broadcast(cb), "b", "left")
        .crossJoin(F.broadcast(ctot))
    )
    full = lattice.join(F.broadcast(sb), ["source", "b"], "left")
    ps = (F.coalesce(F.col("cs"), F.lit(0)) + F.lit(alpha)) / (
        F.col("ns") + F.lit(alpha * n_buckets)
    )
    pc = (F.coalesce(F.col("cc"), F.lit(0)) + F.lit(alpha)) / (
        F.col("nc") + F.lit(alpha * n_buckets)
    )
    return (
        full.groupBy("source", "ns")
        # + 0.0: fp rounding can put a ~0 KL sum at -0.0 in one engine
        .agg((F.round(F.sum(ps * F.log(ps / pc)), round_to) + F.lit(0.0)).alias("kl_nats"))
        .select("source", F.col("ns").alias("n_tokens"), "kl_nats")
    )


def zipf_fit(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 100,
    round_to: int = 6,
) -> DataFrame:
    """Zipf's-law fit over the top-``top_k`` vocabulary: least-squares
    slope/intercept of ln(freq) against ln(rank) — natural text sits
    near slope −1; strong deviation flags templated or synthetic
    corpora (a datasheet companion to ``distinct_ngram_ratios``).

    Returns one row (n_terms, zipf_slope, zipf_intercept). Rank is
    deterministic: (freq desc, term asc). The top-k extraction is
    orderBy+limit (TakeOrdered heaps, no global-rank window); the
    ranking window then runs over ≤ top_k rows behind a non-foldable
    all-equal partition key."""
    from pyspark.sql import Window

    tf = (
        docs.select(F.explode(tokenize(F.col(text_col))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    top = tf.orderBy(F.desc("cnt"), F.asc("term")).limit(top_k)
    w = Window.partitionBy(F.substring("term", 0, 0)).orderBy(
        F.desc("cnt"), F.asc("term")
    )
    xy = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    agg = xy.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    # degenerate fits (0 or 1 terms: den == 0) yield NULL, not a
    # cross-engine NaN/inf coin flip
    slope = F.when(
        den != 0,
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / den,
    )
    return agg.select(
        F.col("n").cast("int").alias("n_terms"),
        (F.round(slope, round_to) + F.lit(0.0)).alias("zipf_slope"),
        (
            F.round(
                F.when(F.col("n") > 0, (F.col("sy") - slope * F.col("sx")) / F.col("n")),
                round_to,
            )
            + F.lit(0.0)
        ).alias("zipf_intercept"),
    )
