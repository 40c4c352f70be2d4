"""Text analysis operators for training-data pipelines (SURVEY.md §2.13):
language ID, quality scoring, token counting, fingerprinting.

Everything is a column expression over `functions.text` primitives —
regexp/split/hash built-ins, zero Python. At 100 TB these run as a single
narrow map stage fused into the scan (no shuffle at all).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.partitioning import ensure_scan_parallelism
from ..functions.text import (
    bpe_ish_token_count,
    rolling_fingerprint,
    tokens,
    whitespace_token_count,
)

# Tiny per-language stopword marker sets (public common words). A real
# deployment swaps in fastText/CLD3 via a pandas UDF; the heuristic keeps
# the plumbing (schema, scoring shape) identical and dependency-free.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "los", "en", "un"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}


def _marker_hits(tok: Column, markers: tuple[str, ...]) -> Column:
    marker_arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tok, lambda t: F.array_contains(marker_arr, t)))


def language_id(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "lang_pred",
    scorer=None,
) -> DataFrame:
    """Language ID with a pluggable model slot.

    ``scorer=None`` (default): the dependency-free stopword-marker
    heuristic — pure column expressions, zero Python, fused into the scan.
    Score = marker hits per language, argmax wins (ties → lexicographic,
    deterministic). For zh (no whitespace tokens) we count marker
    *substring* occurrences.

    ``scorer=callable``: an Arrow-batched pandas-UDF slot for a real model
    (fastText/CLD3-class). The callable maps a ``pd.Series`` of texts to a
    ``pd.Series`` of language codes and is shipped to executors in the
    task closure — load heavy model weights lazily inside the callable
    with a module/executor-level cache so they deserialize once per
    executor, not per batch. Same output schema either way, so
    ``curate_corpus`` and every downstream consumer are unchanged."""
    if scorer is not None:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _score_fn(texts):
            return scorer(texts)

        # Real class objects, not strings: this module's
        # `from __future__ import annotations` would stringify inline
        # hints and break pandas_udf's signature inference.
        _score_fn.__annotations__ = {"texts": pd.Series, "return": pd.Series}
        _score = pandas_udf(_score_fn, "string")
        return df.withColumn(out_col, _score(F.col(text_col)))
    tok = tokens(F.col(text_col))
    scores = []
    for lang, markers in sorted(_LANG_MARKERS.items()):
        if lang == "zh":
            hits = sum(
                (
                    F.length(F.col(text_col))
                    - F.length(F.regexp_replace(F.col(text_col), m, ""))
                )
                for m in markers
            )
        else:
            hits = _marker_hits(tok, markers)
        scores.append(F.struct(hits.cast("long").alias("score"), F.lit(lang).alias("lang")))
    # argmax: array_max over (score, lang) structs — struct comparison is
    # lexicographic so equal scores resolve to the LAST lang; invert lang
    # ordering trickery is avoided by sorting markers and accepting the
    # deterministic tie-break.
    best = F.array_max(F.array(*scores))
    return df.withColumn(out_col, best.getField("lang"))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality features + composite score:
    length, token stats, punctuation/digit/uppercase ratios, stopword ratio,
    mean word length. Mirrors the C4/Gopher-style rule families."""
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    text = F.col(text_col)
    tok = tokens(text)
    n_chars = F.length(text)
    n_tokens = F.size(tok)
    en_markers = F.array(*[F.lit(m) for m in _LANG_MARKERS["en"]])
    stop_hits = F.size(F.filter(tok, lambda t: F.array_contains(en_markers, t)))
    punct = n_chars - F.length(F.regexp_replace(text, r"[\p{Punct}]", ""))
    digits = n_chars - F.length(F.regexp_replace(text, r"[0-9]", ""))
    mean_word_len = F.when(
        n_tokens > 0,
        F.aggregate(tok, F.lit(0), lambda a, t: a + F.length(t)) / n_tokens,
    ).otherwise(F.lit(0.0))
    out = (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("punct_ratio", F.round(punct / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn("digit_ratio", F.round(digits / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn(
            "stopword_ratio",
            F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 6),
        )
        .withColumn("mean_word_len", F.round(mean_word_len, 6))
    )
    composite = (
        F.when((F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 100000), 0.25).otherwise(0.0)
        + F.when(F.col("punct_ratio") <= 0.2, 0.25).otherwise(0.0)
        + F.when(F.col("stopword_ratio") >= 0.01, 0.25).otherwise(0.0)
        + F.when((F.col("mean_word_len") >= 2) & (F.col("mean_word_len") <= 12), 0.25).otherwise(0.0)
    )
    return out.withColumn("quality_score", F.round(composite, 2))


def repetition_score(
    df: DataFrame, text_col: str = "text", ngram: int = 3
) -> DataFrame:
    """Gopher-style repetition rule: fraction of n-gram occurrences taken
    by the single most frequent n-gram (``top_ngram_frac``), plus the
    distinct/total n-gram ratio (``ngram_diversity``). Looping/boilerplate
    text scores high on the former and low on the latter; natural prose
    stays near 1/total and ~1.0 respectively.

    Implemented with ONE aggregate() fold over the sorted shingle array —
    per-row array math inside codegen, zero shuffle, no explode row
    blow-up. The fold carries (prev, run, best, distinct, cnt) so the
    most-frequent-run, distinct count, and total count all come from a
    single pass, and the result is materialized through an ``inline``
    generator: a plain withColumn-per-stat version gets projection-
    collapsed by Catalyst into one expression PER OUTPUT COLUMN, which
    re-runs tokenize+shingle+sort 4-5× per row (measured 9.6 s → 1.3 s at
    sf0.1 for this exact query)."""
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    from ..functions.text import shingles, tokens

    sh = shingles(tokens(F.col(text_col)), ngram)
    sorted_sh = F.array_sort(sh)
    # Longest run of equal adjacent values in the sorted array == count of
    # the most frequent n-gram; boundaries (x != prev) count distincts.
    stats = F.aggregate(
        sorted_sh,
        F.struct(
            F.lit("\x00").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit(0).alias("distinct"),
            F.lit(0).alias("cnt"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
            (
                acc["distinct"]
                + F.when(x == acc["prev"], F.lit(0)).otherwise(F.lit(1))
            ).alias("distinct"),
            (acc["cnt"] + 1).alias("cnt"),
        ),
        lambda acc: F.struct(
            acc["best"].alias("top_ngram_count"),
            acc["cnt"].alias("n_ngrams"),
            acc["distinct"].alias("n_distinct_ngrams"),
        ),
    )
    # inline() is a generator: Spark evaluates `stats` ONCE per row and
    # emits its fields as columns; downstream projections reference the
    # generated attributes instead of re-deriving the fold.
    out = df.select("*", F.inline(F.array(stats)))
    return out.withColumn(
        "top_ngram_frac",
        F.round(F.col("top_ngram_count") / F.greatest(F.col("n_ngrams"), F.lit(1)), 6),
    ).withColumn(
        "ngram_diversity",
        F.round(
            F.col("n_distinct_ngrams") / F.greatest(F.col("n_ngrams"), F.lit(1)), 6
        ),
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace + BPE-ish token counts per document."""
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    return df.withColumn(
        "ws_tokens", whitespace_token_count(F.col(text_col))
    ).withColumn("bpe_ish_tokens", bpe_ish_token_count(F.col(text_col)))


def vocab_topk(df: DataFrame, text_col: str = "text", k: int = 100) -> DataFrame:
    """Corpus vocabulary head: top-k tokens by frequency with a total
    order (count desc, token asc) — the first step of tokenizer/vocab
    training. explode → hash-agg (map-side partial) → orderBy+limit,
    which Spark executes as TakeOrderedAndProject: each partition keeps
    its local top-k and only k rows travel — a 100 TB corpus' multi-GB
    vocabulary is never globally sorted, let alone the corpus. The rank
    column is a window over the k survivors only."""
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    from pyspark.sql import Window

    tok = df.select(F.explode(tokens(F.col(text_col))).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    order = [F.col("freq").desc(), F.col("token").asc()]
    head = counts.orderBy(*order).limit(k)
    return head.select(
        F.row_number().over(Window.orderBy(*order)).alias("rank"), "token", "freq"
    )


def token_rarity(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Corpus-frequency profile per document: total and minimum global
    frequency of the doc's tokens, plus its token count — the exact
    integer facts behind unigram-LM quality filtering (a doc of globally
    rare tokens is gibberish or treasure; either way you look). Two
    shuffles: token-frequency agg, then doc re-agg of the exploded join.
    Kept integer-exact deliberately: log-prob floats differ across
    engines' libm at the last ulp, integers never do."""
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
    freqs = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    return (
        tok.join(freqs, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("freq").alias("total_token_freq"),
            F.min("freq").alias("min_token_freq"),
        )
    )


def cap_per_domain(
    df: DataFrame,
    host_col: str = "host",
    id_col: str = "doc_id",
    max_per_domain: int = 2,
) -> DataFrame:
    """Per-domain quota: keep at most N docs per host, smallest ids win
    (deterministic). The crawl-balancing primitive that stops one site
    from dominating a corpus — one window over the host partition."""
    from pyspark.sql import Window

    w = Window.partitionBy(host_col).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_per_domain)
        .drop("_rn")
    )


def fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit rolling-hash document fingerprint column."""
    return df.withColumn("fingerprint", rolling_fingerprint(F.col(text_col)))


def chunk_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_chars: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into fixed-size overlapping character chunks —
    the unit-of-work transform feeding embedding/indexing stages of a
    training-data or RAG pipeline. Emits (id, chunk_id, chunk_start,
    chunk_text); the final partial chunk is kept. Start positions run
    1, 1+step, ... up to ``len - overlap`` (step = chunk - overlap): the
    last start is the first one whose chunk reaches the end of the text,
    so coverage is lossless with no spurious tail chunk that would lie
    entirely inside its predecessor (property-tested over arbitrary
    text/chunk/overlap in tests/test_properties.py).

    Pure sequence+substring column expressions: the explode multiplies
    rows ~len/(chunk-overlap)× but stays a narrow map — no shuffle, and
    chunk extraction is JVM-side codegen."""
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    step = chunk_chars - overlap
    text = F.col(text_col)
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(text) - F.lit(overlap), F.lit(1)), F.lit(step)
    )
    out = df.select(
        F.col(id_col),
        F.posexplode(starts).alias("chunk_id", "chunk_start"),
        text.alias("_t"),
    )
    return out.select(
        id_col,
        "chunk_id",
        "chunk_start",
        F.substring(F.col("_t"), F.col("chunk_start"), chunk_chars).alias("chunk_text"),
    )


# Engine-portable host pattern (no lookarounds — identical semantics in
# Java regex and RE2/DuckDB): scheme://host[:port]/..., capture the host.
_URL_HOST_PATTERN = r"https?://([A-Za-z0-9.\-]+)"


def extract_domains(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document URL host extraction — the provenance/per-domain-quota
    primitive of web-corpus curation (domain blocklists, per-site caps,
    source mixing all hang off it). One row per (doc, host occurrence);
    narrow map, aggregation left to the caller."""
    return df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(_URL_HOST_PATTERN), 1)
        ).alias("host"),
    )


# Deliberately simple, engine-portable patterns (no backrefs/lookaheads —
# valid in both Java regex and RE2, so the DuckDB oracle can mirror them).
# A production pass adds locale-specific patterns and an NER model via
# pandas UDF; the plumbing (count → redact → audit) is identical.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    replacement: str = "[REDACTED]",
) -> DataFrame:
    """PII scrub for training corpora: per-pattern match counts (the audit
    trail) + a redacted text column. Pure regexp built-ins — one narrow
    map stage fused into the scan, no Python."""
    pats = patterns or PII_PATTERNS
    out = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    redacted = F.col(text_col)
    for name, pat in pats.items():
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0)),
        )
        redacted = F.regexp_replace(redacted, pat, replacement)
    return out.withColumn("redacted_text", redacted)


def benchmark_overlap(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    flag_pct: int = 10,
) -> DataFrame:
    """Benchmark decontamination: per-document count of word ``n``-grams
    that also appear in a benchmark/eval set (the GPT-3/Llama-style
    train-test overlap check). A doc whose contaminated-gram share reaches
    ``flag_pct`` percent is flagged for removal.

    Plan shape for 100 TB: the benchmark side is an eval set — thousands
    of documents, a few million distinct n-grams — so it is aggregated to
    a distinct-gram set and **broadcast**; the corpus side is a narrow
    scan → per-row ``array_distinct`` (map-side, no shuffle) → explode →
    broadcast-hash left join → per-doc hash agg. The only shuffle is the
    final groupBy on ``id_col``, and every gram travels at most once.
    Integer outputs only (counts + an integer-ratio flag): no
    cross-engine float drift.
    """
    from ..functions.text import shingles

    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)

    def grams(frame: DataFrame, cols: list[str]) -> DataFrame:
        g = F.array_distinct(shingles(tokens(F.col(text_col)), n=n))
        return (
            frame.select(*cols, F.explode(g).alias("gram"))
            .filter(F.col("gram") != "")
        )

    bench_grams = grams(benchmark, []).distinct().withColumn("hit", F.lit(1))
    doc_grams = grams(df, [id_col])
    joined = doc_grams.join(F.broadcast(bench_grams), "gram", "left")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("hit").alias("n_contaminated"),
        (F.count("hit") * 100 >= F.count(F.lit(1)) * flag_pct).alias(
            "contaminated"
        ),
    )


def boilerplate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
    k: int = 50,
) -> DataFrame:
    """Corpus-internal boilerplate detection: the word ``n``-gram spans
    shared by at least ``min_docs`` distinct documents, ranked by document
    frequency — the C4/RefinedWeb "repeated line removal" generalized to
    token spans. The output is the removal list a curation pass would
    subtract from every document (cookie banners, nav menus, license
    footers).

    Plan shape for 100 TB: narrow scan → per-row ``array_distinct``
    shingle expansion (map-side, the per-doc distinct collapses intra-doc
    repeats BEFORE the shuffle) → one hash agg on gram → per-partition
    top-k (TakeOrderedAndProject — only k rows ever reach the driver
    side of the sort). One shuffle total, integer counts only.
    """
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    from pyspark.sql import Window

    from ..functions.text import shingles

    g = F.array_distinct(shingles(tokens(F.col(text_col)), n=n))
    doc_grams = df.select(F.col(id_col), F.explode(g).alias("gram")).filter(
        F.col("gram") != ""
    )
    freq = doc_grams.groupBy("gram").agg(F.count(F.lit(1)).alias("doc_freq"))
    order = [F.col("doc_freq").desc(), F.col("gram").asc()]
    head = freq.filter(F.col("doc_freq") >= min_docs).orderBy(*order).limit(k)
    return head.select(
        F.row_number().over(Window.orderBy(*order)).alias("rank"),
        "gram",
        "doc_freq",
    )


def distinctive_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-document distinctive terms: the tf-idf ranking re-expressed on
    exact integers. For each (doc, token) we keep tf (in-doc count) and df
    (number of docs containing the token), then rank per doc by rarest
    first (df asc), heaviest in-doc use next (tf desc), token asc — the
    same ordering idf*tf induces on a fixed corpus, minus the
    cross-engine float log. Two shuffles (doc-term agg, df agg) + one
    window; the df side aggregates to vocabulary size before the join, so
    corpus scale never re-shuffles twice."""
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    from pyspark.sql import Window

    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
    tf = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ranked = tf.join(dfreq, "token").withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy(
                F.col("df").asc(), F.col("tf").desc(), F.col("token").asc()
            )
        ),
    )
    return ranked.filter(F.col("rank") <= k).select(
        id_col, "rank", "token", "tf", "df"
    )


def bigram_topk(df: DataFrame, text_col: str = "text", k: int = 50) -> DataFrame:
    """Top-k adjacent token pairs — the merge-pair count behind one BPE
    merge step (tokenizer-training prep alongside `vocab_topk`). Pairs
    come from `shingles(n=2)` (one codegen regex pass); the sub-2-token
    truncated shingle is excluded by the contains-space filter, so only
    genuine adjacencies count. Same TakeOrderedAndProject shape as
    vocab_topk: per-partition top-k, only k rows travel."""
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    from pyspark.sql import Window

    from ..functions.text import shingles

    pair = df.select(
        F.explode(shingles(tokens(F.col(text_col)), 2)).alias("bigram")
    ).filter(F.col("bigram").contains(" "))
    counts = pair.groupBy("bigram").agg(F.count(F.lit(1)).alias("freq"))
    order = [F.col("freq").desc(), F.col("bigram").asc()]
    head = counts.orderBy(*order).limit(k)
    return head.select(
        F.row_number().over(Window.orderBy(*order)).alias("rank"), "bigram", "freq"
    )


def mixture_allocation(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    token_budget: int = 1_000_000,
) -> DataFrame:
    """Data-mixing allocation: split a training token budget across
    sources proportionally to QUALITY-WEIGHTED token mass (a source's
    weight is Σ tokens_i × quality_i over its documents) — the
    source-mixing step between curation and tokenization.

    Integer-exact end to end: quality scores are exact quarters, so
    ``quality × 100`` is an exact integer weight per doc; allocations use
    integer floor division (`div`), never float ratios — at any corpus
    size the arithmetic is engine-portable and overflow-safe where a
    double product would silently lose ulps past 2^53. One combinable
    aggregation over the corpus; the grand total rides in on a broadcast
    single-row cross join."""
    scored = quality_score(token_counts(df, text_col), text_col)
    q_centi = F.round(F.col("quality_score") * 100).cast("long")
    per = scored.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("bpe_ish_tokens").alias("total_tokens"),
        F.sum(
            F.col("bpe_ish_tokens").cast("decimal(38,0)") * q_centi
        ).alias("_weight"),
    )
    tot = per.agg(F.sum("_weight").alias("_w_total"))
    return per.join(F.broadcast(tot)).select(
        source_col,
        "n_docs",
        "total_tokens",
        F.col("_weight").cast("bigint").alias("weight"),
        F.expr(
            f"CAST({token_budget} AS DECIMAL(38,0)) * _weight div _w_total"
        ).alias("alloc_tokens"),
        F.expr(
            "CAST(10000 AS DECIMAL(38,0)) * _weight div _w_total"
        ).alias("share_bp"),
    )


def temperature_mixture_sample(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    target_total: int | None = None,
    modulus: int = 1_000_000,
) -> DataFrame:
    """Temperature-scaled source sampling (alpha = 0.5) — the multilingual
    / multi-source REBALANCING step (XLM-R-style p_i^alpha mixing) that
    turns :func:`mixture_allocation`'s *planned* shares into an actual
    deterministic document selection: a source's keep-rate is
    proportional to sqrt(share)/share, so dominant sources are
    downsampled and tail sources kept near-whole, flattening the mixture
    toward the temperature distribution.

    Exactness contract: the ONLY floating-point step is one correctly-
    rounded ``sqrt`` on an exact integer per source, immediately floored
    to integer micro-units (``s_micro = floor(sqrt(n_docs) * 1e6)``) —
    the ln/sqrt-then-integer discipline of tfidf/ab_welch. Everything
    after is DECIMAL(38,0) integer arithmetic: with ``T`` the target
    total (default ``N div 2``), ``S = sum(s_micro)``,

        rate_micro_i = least(modulus, (T * s_micro_i * modulus)
                                      div (S * n_docs_i))

    and a row survives iff the Lehmer hash of its id mod ``modulus``
    clears its source's rate — the same pure-function-of-the-data
    selection as deterministic_stratified_sample, so the EXACT surviving
    row set is engine-portable, rerun-stable, and oracle-checkable.
    alpha is fixed at 1/2 because sqrt is the one power with a
    correctly-rounded cross-engine guarantee; other temperatures would
    ride on ``pow``'s unspecified last ulp.

    Scale shape: one combinable per-source count, a 1-row broadcast
    total, a broadcast rate join, then a narrow filter — no corpus
    shuffle, no driver round-trip, nothing proportional to data but the
    scan. Output: the surviving rows plus their source's ``rate_micro``
    audit column."""
    rates = temperature_mixture_rates(
        df, source_col=source_col, target_total=target_total, modulus=modulus
    )
    from .cleaning import _lehmer_hash

    h = F.pmod(_lehmer_hash(df, id_col), F.lit(modulus))
    return (
        df.withColumn("_h", h)
        .join(F.broadcast(rates), source_col)
        .filter(F.col("_h") < F.col("rate_micro"))
        .drop("_h")
    )


def temperature_mixture_rates(
    df: DataFrame,
    source_col: str = "source",
    target_total: int | None = None,
    modulus: int = 1_000_000,
    cap: bool = True,
    target_factor_milli: int | None = None,
) -> DataFrame:
    """The per-source keep-rate relation of
    :func:`temperature_mixture_sample` — (source, rate_micro), one row
    PER SOURCE regardless of whether any of that source's rows survive
    the hash draw.  Exposed separately so rate audits (and the property
    suite) assert against the full per-source relation instead of
    inferring rates from surviving rows — a source whose every doc id
    hashes above a small positive rate is absent from the sample but
    must still carry its exact rate here.

    ``cap=False`` removes the ``least(modulus, ...)`` ceiling so
    rate_micro > modulus expresses REPETITION (rate 2.5e6 = 2 full
    epochs + a 50% partial) — the up-sampling half consumed by
    :func:`temperature_mixture_upsample`.  ``target_factor_milli``
    derives the target total from the corpus itself in exact integer
    arithmetic, ``T = (N * factor) div 1000`` (3000 -> 3x the corpus),
    so a static oracle replays T without a driver-side count; mutually
    exclusive with ``target_total``."""
    if target_total is not None and target_factor_milli is not None:
        raise ValueError("pass target_total OR target_factor_milli, not both")
    per = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n_docs"))
    per = per.withColumn(
        "_s_micro",
        F.floor(F.sqrt(F.col("_n_docs").cast("double")) * modulus).cast(
            "bigint"
        ),
    )
    tot = per.agg(
        F.sum("_s_micro").alias("_S"), F.sum("_n_docs").alias("_N")
    )
    # NOTE: `div` is IntegralDivide and ALWAYS yields LONG in Spark —
    # `CAST(_N AS DECIMAL(38,0)) div 2` would silently collapse T (and
    # with it the whole rate numerator) back to 64-bit, overflowing at
    # only ~7e4 single-source docs.  Integer-halve the BIGINT count
    # first (always safe), THEN cast, so T * _s_micro * modulus stays
    # DECIMAL(38,0) end to end.
    if target_total is not None:
        t_expr = f"CAST({int(target_total)} AS DECIMAL(38,0))"
    elif target_factor_milli is not None:
        # exact integer scaling of the corpus count; the mul precedes
        # the div deliberately (N * 2500 div 1000 = 2.5N exactly) and
        # stays in BIGINT until the final cast like the default path
        t_expr = (
            f"CAST(((_N * {int(target_factor_milli)}) div 1000) "
            "AS DECIMAL(38,0))"
        )
    else:
        t_expr = "CAST((_N div 2) AS DECIMAL(38,0))"
    raw_rate = F.expr(
        f"(({t_expr}) * _s_micro * {modulus}) div "
        "(CAST(_S AS DECIMAL(38,0)) * _n_docs)"
    ).cast("bigint")
    rates = (
        per.crossJoin(F.broadcast(tot))
        .withColumn(
            "rate_micro",
            F.least(F.lit(modulus).cast("bigint"), raw_rate)
            if cap
            else raw_rate,
        )
        .select(source_col, "rate_micro")
    )
    return rates


def temperature_mixture_upsample(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    target_total: int | None = None,
    target_factor_milli: int | None = None,
    max_epochs: int = 4,
    modulus: int = 1_000_000,
) -> DataFrame:
    """Temperature rebalancing WITH repetition — the data-constrained
    UP-SAMPLING half that :func:`temperature_mixture_sample` (keep-rates
    capped at 1.0) cannot express: tail sources whose temperature share
    exceeds their size are repeated across epochs (Muennighoff et al.
    2023's data-constrained scaling recipe — repeating up to ~4 epochs
    is near-free, beyond that returns decay, hence the ``max_epochs``
    ceiling applied to the rate in exact integer units).

    A doc with uncapped rate r (micro-units) yields ``r div modulus``
    guaranteed copies (epoch 0, 1, ...) plus ONE more iff its Lehmer
    hash clears the fractional remainder ``r mod modulus`` — the same
    pure-function-of-the-data draw as the down-sampler, so for r <=
    modulus this degenerates to EXACTLY temperature_mixture_sample's
    selection (at epoch 0), and the whole expansion is deterministic,
    partition-invariant, and oracle-replayable.

    Scale shape: one combinable per-source count, a broadcast rate
    join, one narrow explode — output rows = sum of rates, never a
    shuffle of the corpus.  Output: input columns + (rate_micro,
    epoch INT); downstream packing/shuffling treats (id, epoch) as the
    training-example key."""
    rates = temperature_mixture_rates(
        df,
        source_col=source_col,
        target_total=target_total,
        modulus=modulus,
        cap=False,
        target_factor_milli=target_factor_milli,
    ).withColumn(
        "rate_micro",
        F.least(
            F.lit(int(max_epochs) * modulus).cast("bigint"),
            F.col("rate_micro"),
        ),
    )
    from .cleaning import _lehmer_hash

    h = F.pmod(_lehmer_hash(df, id_col), F.lit(modulus))
    n_copies = (
        F.expr(f"rate_micro div {modulus}")
        + (h < F.pmod(F.col("rate_micro"), F.lit(modulus))).cast("bigint")
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .withColumn("_n", n_copies)
        .filter(F.col("_n") > 0)
        .withColumn(
            "epoch",
            F.explode(F.sequence(F.lit(0), (F.col("_n") - 1).cast("int"))),
        )
        .drop("_n")
    )


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    capacity: int = 2048,
    n_tokens_col: str | None = None,
    epoch_col: str | None = None,
) -> DataFrame:
    """Deterministic sequence packing: assign documents to fixed-capacity
    context-window bins (the batch-construction step between curation and
    training). Docs are packed in id order within each group; a doc's bin
    is the context window its START offset falls in —
    ``bin = (cumulative_tokens − n_tokens) div capacity`` — so assignment
    is one windowed running sum, exact integers, and identical under any
    partitioning. A doc longer than ``capacity`` spans bins but is
    assigned where it starts (documented next-fit-shape slack; real
    packers also chunk first — compose with `chunk_text` for that).

    Scale: the window partitions by ``group_col`` (language/source), so
    packing parallelizes across groups and no global sort exists. Output
    is the per-doc assignment (id, group, n_tokens, start_offset,
    bin_id).

    ``n_tokens_col`` (round 9): pass a precomputed token-count column —
    e.g. real tokenizer counts from :func:`bpe_encode` — to pack by it
    instead of the default regex proxy, completing the
    train->encode->pack lifecycle.

    ``epoch_col`` (round 12): when the input is an UP-SAMPLED mixture
    (:func:`temperature_mixture_upsample` — rows keyed by (id, epoch),
    one row per repetition), pack on the composite key: the window
    orders by (id, epoch) so a doc's repetitions land in consecutive
    context windows deterministically, and the epoch column rides
    through the output so the caller joins the assignment back on the
    full training-example key."""
    from pyspark.sql import Window

    from ..functions.text import bpe_ish_token_count

    n_expr = (
        F.col(n_tokens_col).cast("int")
        if n_tokens_col
        else bpe_ish_token_count(F.col(text_col))
    )
    key_cols = [id_col] + ([epoch_col] if epoch_col else [])
    with_n = df.select(
        *[F.col(c) for c in key_cols],
        F.col(group_col),
        n_expr.alias("n_tokens"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(*[F.col(c).asc() for c in key_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = with_n.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return cum.select(
        *key_cols,
        group_col,
        "n_tokens",
        (F.col("cum_tokens") - F.col("n_tokens")).alias("start_offset"),
        F.expr(f"(cum_tokens - n_tokens) div {capacity}").alias("bin_id"),
    )


def pack_efficiency(
    packed: DataFrame,
    capacity: int = 2048,
    group_col: str = "lang",
) -> DataFrame:
    """Packing-efficiency audit over a :func:`pack_sequences` assignment —
    the feedback metric a batch-construction pipeline watches: how full
    are the context windows actually getting, per group?

    Per group, in EXACT integer arithmetic (cross-engine stable):
    ``n_bins``, ``n_docs``, ``total_tokens``, ``max_bin_tokens`` (can
    exceed capacity — overlong docs span bins but are assigned where they
    start), ``underfilled_bins`` (strictly less than half full), and
    ``fill_pct`` = ``(total_tokens * 100) div (n_bins * capacity)``.

    Scale: two hash aggregations, (group, bin) then (group) — the first
    reuses the pack window's hash partitioning on ``group_col`` when
    composed directly, the second is on the tiny group key space."""
    per_bin = packed.groupBy(group_col, "bin_id").agg(
        F.sum("n_tokens").alias("bin_tokens"),
        F.count(F.lit(1)).alias("bin_docs"),
    )
    return (
        per_bin.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.sum("bin_docs").cast("bigint").alias("n_docs"),
            F.sum("bin_tokens").cast("bigint").alias("total_tokens"),
            F.max("bin_tokens").cast("bigint").alias("max_bin_tokens"),
            F.sum(
                F.when(F.col("bin_tokens") * 2 < capacity, 1).otherwise(0)
            ).cast("bigint").alias("underfilled_bins"),
            F.expr(f"sum(bin_tokens) * 100 div (count(1) * {capacity})")
            .cast("bigint")
            .alias("fill_pct"),
        )
        .orderBy(group_col)
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap
    repetition/boilerplate signal (Gopher-style quality filtering drops
    documents that compress too well: templated or looping text has
    ratio << typical prose ~0.4-0.7).

    This is a deliberate Arrow/pandas boundary (zlib needs bytes-level
    Python; there is no built-in Spark expression) — batched via
    mapInPandas like the multimodal featurizer, never row-at-a-time.
    ``passthrough`` columns ride the Arrow batch unchanged so downstream
    group-bys (per-language profiles etc.) need NO re-join back to the
    source — the scorer stays a narrow map, zero shuffles.
    Output: (id, *passthrough, n_bytes, n_compressed, ratio to 4dp)."""
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    import zlib

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    passthrough = passthrough or []
    schema = StructType(
        [StructField("doc_id", LongType())]
        + [df.schema[c] for c in passthrough]
        + [
            StructField("n_bytes", LongType()),
            StructField("n_compressed", LongType()),
            StructField("ratio", DoubleType()),
        ]
    )
    src = df.select(
        F.col(id_col).alias("doc_id"), *passthrough, F.col(text_col).alias("_t")
    )

    def score(batches):
        for pdf in batches:
            raw = [t.encode("utf-8") if t is not None else b"" for t in pdf["_t"]]
            n = [len(b) for b in raw]
            c = [len(zlib.compress(b, 6)) for b in raw]
            out = {"doc_id": pdf["doc_id"]}
            for col in passthrough:
                out[col] = pdf[col]
            out["n_bytes"] = n
            out["n_compressed"] = c
            out["ratio"] = [
                round(ci / ni, 4) if ni else None for ci, ni in zip(c, n)
            ]
            yield pd.DataFrame(out)

    return src.mapInPandas(score, schema)


def strip_html(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Boilerplate HTML removal for web corpora: drop tags, decode the
    five core entities, collapse whitespace — the cheap regex tier of a
    C4-style extraction pass (a DOM-aware extractor slots in as a pandas
    UDF with the same output column). Pure regexp built-ins, RE2-safe
    patterns (no backrefs), fused into the scan."""
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    stripped = F.regexp_replace(F.col(text_col), r"<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),  # LAST: '&amp;lt;' must not become '<'
    ):
        stripped = F.regexp_replace(stripped, ent, ch)
    clean = F.trim(F.regexp_replace(stripped, r"\s+", " "))
    return df.withColumn("clean_text", clean).withColumn(
        "had_markup", F.col(text_col).rlike(r"<[^>]*>")
    )


def normalize_urls(
    df: DataFrame, url_col: str = "url", out_col: str = "url_norm"
) -> DataFrame:
    """URL canonicalization for crawl dedup: lowercase scheme+host, drop
    the fragment, drop query string, strip a trailing slash and a 'www.'
    host prefix — the key under which crawl frontiers and URL-level
    dedup aggregate. Regex-only (RE2-safe), zero Python."""
    u = F.col(url_col)
    u = F.regexp_replace(u, r"#.*$", "")        # fragment
    u = F.regexp_replace(u, r"\?.*$", "")       # query string
    # lowercase scheme://host (path case is significant, keep it)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/]*)", 1))
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/]*(/.*)?$", 1)
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_replace(path, r"/$", "")
    norm = F.when(
        scheme != "", F.concat(scheme, F.lit("://"), host, path)
    ).otherwise(u)
    return df.withColumn(out_col, norm)


def unigram_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document unigram language-model score: the mean negative
    log-likelihood (nats) of each document's tokens under the corpus's own
    MLE unigram distribution — the CCNet-style statistical quality signal
    (fluent prose scores near the corpus entropy; gibberish and rare-token
    soup score high; boilerplate scores low).

    Output: (doc_id, n_tokens, avg_nll) with avg_nll in nanonat
    resolution (floor-truncated).

    Cross-engine exactness: each token's -ln(c/N) is rounded ONCE to
    integer nanonats; everything after is BIGINT sums and a floor
    division, so there is no float accumulation (order-dependent) and no
    final double ROUND (whose half-up boundary handling differs between
    engines — measured 3% of docs flipping the 6th digit before this
    formulation). The single remaining libm `ln` is within 1 ulp across
    engines, which at nanonat resolution flips a token's integer with
    probability ~1e-7 — and the mirror's --shuffle probes would catch it.

    Scale shape: (doc, token) pair counts collapse repeats BEFORE any
    join (one shuffle, map-side combinable); the vocabulary relation is
    |distinct tokens| — tiny vs the corpus — and joins back on the token
    key (AQE picks broadcast when it fits); the corpus total N enters as
    a 1-row broadcast cross join, not a literal collected to the driver.
    Zero Python anywhere."""
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t"))
    doc_tok = tok.groupBy(id_col, "_t").agg(F.count(F.lit(1)).alias("_n_dt"))
    vocab = doc_tok.groupBy("_t").agg(F.sum("_n_dt").alias("_c"))
    total = vocab.agg(F.sum("_c").alias("_n"))
    scored = (
        doc_tok.join(vocab, "_t")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.col("_n_dt"),
            (
                F.col("_n_dt")
                * F.round(
                    -F.log(F.col("_c") / F.col("_n")) * F.lit(1e9), 0
                ).cast("long")
            ).alias("_nanonats"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("_n_dt").alias("n_tokens"),
        F.sum("_nanonats").alias("_su"),
    ).select(
        F.col(id_col),
        "n_tokens",
        (F.expr("_su div n_tokens") / F.lit(1e9)).alias("avg_nll"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 keyword retrieval over the corpus: top-``k`` docs for a fixed
    term list, Lucene's non-negative idf variant
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``.

    Output: (id, n_terms_matched, score) — score rounded to 6 digits
    (the ln() is the one cross-engine last-ulp risk; every other step is
    exact-int or fixed-order IEEE arithmetic).

    Determinism of the term SUM: per-term partial scores are pivoted into
    per-term columns (conditional aggregation over the literal term
    list) and added LEFT-TO-RIGHT — never F.sum over rows, whose
    combine order varies with partitioning.

    Scale shape: tokens explode once, filter to the query terms BEFORE
    the shuffle (the relation shrinks from corpus-tokens to
    matching-tokens); df/avgdl are tiny broadcast relations; the head is
    TakeOrderedAndProject. This is the retrieval half of hybrid search —
    fuse with embedding top-k via ``similarity.rrf_fuse``."""
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = tokens(F.col(text_col))
    docs = df.select(F.col(id_col), toks.alias("_toks"))
    lens = docs.select(F.col(id_col), F.size("_toks").alias("_dl"))
    # global stats: one 1-row broadcast relation (N, avgdl)
    glob = lens.agg(
        F.count(F.lit(1)).alias("_n"),
        (F.sum("_dl").cast("double") / F.count(F.lit(1))).alias("_avgdl"),
    )
    tf = (
        docs.select(F.col(id_col), F.explode("_toks").alias("_t"))
        .filter(F.col("_t").isin(list(query_terms)))
        .groupBy(id_col, "_t")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    dfreq = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    scored = (
        tf.join(F.broadcast(dfreq), "_t")
        .join(lens, id_col)
        .crossJoin(F.broadcast(glob))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
    )
    tf_part = (F.col("_tf") * F.lit(k1 + 1.0)) / (
        F.col("_tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * (F.col("_dl") / F.col("_avgdl")))
    )
    per_term = scored.select(
        F.col(id_col), F.col("_t"), (idf * tf_part).alias("_s")
    )
    # pivot the literal term list into columns, then fixed-order addition
    aggs = [
        F.coalesce(
            F.sum(F.when(F.col("_t") == t, F.col("_s"))), F.lit(0.0)
        ).alias(f"_s{i}")
        for i, t in enumerate(query_terms)
    ]
    pivoted = per_term.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_terms_matched"), *aggs
    )
    total = F.col("_s0")
    for i in range(1, len(query_terms)):
        total = total + F.col(f"_s{i}")
    return (
        pivoted.select(
            F.col(id_col),
            "n_terms_matched",
            F.round(total, 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def source_ngram_overlap(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    ngram_n: int = 3,
) -> DataFrame:
    """Cross-source contamination matrix: word-``ngram_n``-gram Jaccard
    between every pair of sources that share at least one gram — the
    corpus-level dedup diagnostic (which crawls/feeds duplicate each
    other) that decides WHICH sources need the pairwise dedup tiers.

    Output: (source_a, source_b, n_common, n_a, n_b, jaccard) with
    source_a < source_b; all counts exact integers, jaccard one
    long/long IEEE division.

    Scale shape: the unit of work is the DISTINCT (source, gram)
    relation — per-doc ``array_distinct`` shrinks grams before the
    distinct shuffle, grams travel as strings only into the gram-keyed
    equi-join, and the pair aggregation lands on the tiny
    |sources|^2 key space. Per-source totals are a broadcast. Nothing
    is quadratic in documents — only in SOURCES, which is the point of
    the rollup."""
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    from ..functions.text import shingles

    grams = df.select(
        F.col(source_col).alias("_src"),
        F.explode(
            F.array_distinct(shingles(tokens(F.col(text_col)), ngram_n))
        ).alias("_g"),
    ).distinct()
    totals = grams.groupBy("_src").agg(F.count(F.lit(1)).alias("_n"))
    a = grams.select(F.col("_src").alias("source_a"), "_g")
    b = grams.select(F.col("_src").alias("source_b"), "_g")
    common = (
        a.join(b, "_g")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ta = F.broadcast(totals.select(F.col("_src").alias("source_a"),
                                   F.col("_n").alias("n_a")))
    tb = F.broadcast(totals.select(F.col("_src").alias("source_b"),
                                   F.col("_n").alias("n_b")))
    return (
        common.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_a",
            "n_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 8,
) -> DataFrame:
    """Marginal-novelty score: the fraction of each document's distinct
    word-``ngram_n``-grams that NO earlier document (smaller id — stand-in
    for crawl order) contains. The data-valuation signal behind
    dedup-aware sampling: a doc that restates the corpus scores ~0, novel
    content scores ~1; streaming pipelines use it to price incoming
    batches before paying to store them.

    Output: (id, n_grams, n_novel, novelty) — counts exact, novelty one
    long/long IEEE division.

    Scale shape: one posexplode of per-doc DISTINCT grams; grams travel
    as ``md5_hash60`` keys (never text) into a single combinable
    min-id aggregation (first-seer per gram), then a semi-ish join back
    on the gram key and a per-doc count — two shuffles total, nothing
    quadratic. The same pass at 100 TB prices a daily batch against the
    persisted first-seer table instead of recomputing it."""
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    from ..functions.hashing import md5_hash60
    from ..functions.text import shingles

    grams = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles(tokens(F.col(text_col)), ngram_n))
        ).alias("_g"),
    ).select(F.col(id_col), md5_hash60(F.col("_g")).alias("_h"))
    first_seen = grams.groupBy("_h").agg(F.min(id_col).alias("_first"))
    scored = grams.join(first_seen, "_h").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(
            F.when(F.col("_first") == F.col(id_col), 1).otherwise(0)
        ).alias("n_novel"),
    )
    return scored.select(
        F.col(id_col),
        "n_grams",
        F.col("n_novel").cast("bigint").alias("n_novel"),
        (F.col("n_novel") / F.col("n_grams")).alias("novelty"),
    )


def source_kl_drift(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source distribution drift: KL(p_source || p_corpus) over the
    unigram token distributions, in nats — the data-curation monitor for
    "which ingest source looks least like the rest of the corpus"
    (crawl drift, a source gone spammy, template floods). KL >= 0 by
    Gibbs; a source identical to the corpus mix scores near 0.

    Output: (source, n_tokens, kl_nats) with kl_nats at nanonat
    resolution (floor-truncated), one row per source.

    Cross-engine exactness (the unigram_nll formulation, see provenance
    there): each distinct (source, token)'s log-ratio is rounded ONCE to
    integer nanonats; all accumulation is BIGINT, the per-source mean is
    a floor division. The log argument is computed as
    (c_st * C) / (C_s * c_t) with the products taken in DOUBLE — at
    100 TB the BIGINT products would overflow (c_st * C can exceed
    2^63), the double products cannot, and both engines evaluate the
    identical op sequence.

    Scale shape: (source, token) pair counts collapse repeats in ONE
    map-side-combinable shuffle; the corpus vocabulary joins back on the
    token key (AQE broadcasts when it fits), per-source totals and the
    1-row corpus total enter as broadcasts. Zero Python, no float
    accumulation anywhere.

    The (source, token) count relation is always persisted: it feeds
    THREE consumers (per-source totals, corpus vocabulary, the scored
    join), and without reuse each consumer re-tokenizes the corpus —
    three full scans at 100 TB. A lazy ``persist`` rather than an eager
    ``localCheckpoint``: the cache fills inside the query's own first
    job, so building the plan launches no job. Unlike curate_corpus's
    text-bearing relation (see the measured broadcast-OOM note in
    flows.py), this relation is structurally bounded at |sources| x
    |vocab| regardless of corpus size, so caching it cannot blow up
    with the data."""
    from pyspark import StorageLevel

    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    tok = df.select(
        F.col(source_col).alias("source"),
        F.explode(tokens(F.col(text_col))).alias("_t"),
    )
    st = (
        tok.groupBy("source", "_t")
        .agg(F.count(F.lit(1)).alias("_c_st"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    s_tot = st.groupBy("source").agg(F.sum("_c_st").alias("_c_s"))
    corpus = st.groupBy("_t").agg(F.sum("_c_st").alias("_c_t"))
    total = corpus.agg(F.sum("_c_t").alias("_c"))
    term = F.round(
        F.log(
            (F.col("_c_st").cast("double") * F.col("_c").cast("double"))
            / (F.col("_c_s").cast("double") * F.col("_c_t").cast("double"))
        )
        * F.lit(1e9),
        0,
    ).cast("long")
    scored = (
        st.join(corpus, "_t")
        .join(F.broadcast(s_tot), "source")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("source"),
            F.col("_c_st"),
            (F.col("_c_st") * term).alias("_nanonats"),
        )
    )
    return (
        scored.groupBy("source")
        .agg(
            F.sum("_c_st").alias("n_tokens"),
            F.sum("_nanonats").alias("_su"),
        )
        .select(
            "source",
            "n_tokens",
            # KL >= 0 by Gibbs, but per-term nanonat rounding can push the
            # accumulated sum a few units below zero — and there Spark's
            # `div` (truncates toward zero) and DuckDB's `//` (floors)
            # disagree by 1. Clamp at 0 in BOTH engines: the clamp is
            # within rounding error of the true value and keeps the
            # fixed-point quantity in the non-negative domain where the
            # two division semantics coincide.
            (F.expr("greatest(_su, 0L) div n_tokens") / F.lit(1e9)).alias(
                "kl_nats"
            ),
        )
    )


def readability(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch-Kincaid-style readability in exact integer milli-units.

    Syllables are approximated as vowel-group runs (``[aeiouy]+``) — the
    standard cheap heuristic — and, with no sentence punctuation in this
    corpus, each document counts as one sentence, so words-per-sentence
    is the word count itself. Grade ≈ 0.39·w/s + 11.8·syll/word − 15.59,
    carried as fixed-point milli: 390·words + (11800·syll div words) −
    15590. Both regexp counts are single codegen passes; everything
    downstream is BIGINT — order- and engine-independent.
    """
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    lower = F.lower(F.col(text_col))
    words = F.regexp_count(lower, F.lit(r"[a-z]+"))
    syll = F.regexp_count(lower, F.lit("[aeiouy]+"))
    return (
        df.select(
            F.col(id_col),
            words.cast("bigint").alias("n_words"),
            syll.cast("bigint").alias("n_syllables"),
        )
        .filter(F.col("n_words") > 0)
        .select(
            id_col,
            "n_words",
            "n_syllables",
            F.expr("(1000 * n_syllables) div n_words").alias("syl_per_word_milli"),
            F.expr(
                "390 * n_words + (11800 * n_syllables) div n_words - 15590"
            ).alias("fk_grade_milli"),
        )
        .orderBy(id_col)
    )


_FUNNEL_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is")


def quality_funnel(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source curation-funnel report: how many documents survive
    each successive quality gate (the accounting artifact every corpus
    curation run publishes). Gates, applied cumulatively:

      1. length:    100 ≤ n_chars ≤ 2000
      2. words:     10 ≤ word count ≤ 500
      3. word len:  mean alpha-chars per word ≤ 9  (alpha ≤ 9·words,
                    exact integer cross-multiplication — no division)
      4. stopwords: stopword share ≥ 2%  (50·hits ≥ words)

    ONE scan, conditional aggregation — all gates are codegen column
    predicates (regexp counts + an array filter against a 7-word
    literal list), so at 100 TB this is scan-bound with a 5-row output.
    """
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    lower = F.lower(F.col(text_col))
    words = F.regexp_count(lower, F.lit(r"[a-z]+")).cast("bigint")
    alpha = F.length(F.regexp_replace(lower, r"[^a-z]", "")).cast("bigint")
    stop_hits = F.size(
        F.filter(
            tokens(F.col(text_col)),
            lambda t: t.isin(*_FUNNEL_STOPWORDS),
        )
    ).cast("bigint")
    g1 = (F.col("n_chars") >= 100) & (F.col("n_chars") <= 2000)
    g2 = (words >= 10) & (words <= 500)
    g3 = alpha <= F.lit(9) * words
    g4 = stop_hits * 50 >= words
    s1 = g1
    s2 = s1 & g2
    s3 = s2 & g3
    s4 = s3 & g4
    cnt = lambda c: F.sum(c.cast("bigint"))  # noqa: E731
    return (
        df.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            cnt(s1).alias("n_len_ok"),
            cnt(s2).alias("n_words_ok"),
            cnt(s3).alias("n_wordlen_ok"),
            cnt(s4).alias("n_stopword_ok"),
        )
        .orderBy("source")
    )


def ttr_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source lexical-diversity profile: type-token ratio and hapax
    share (the vocabulary-health metrics a corpus audit tracks).
    Token explode → (source, token) counts → per-source rollup; ratios
    in exact integer milli via ``div``. Two shuffles, both with map-side
    partial aggregation; the (source, token) key space is vocabulary-
    not corpus-sized, so the second shuffle is tiny at any scale.
    """
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    tok = df.select(
        "source", F.explode(tokens(F.col(text_col))).alias("token")
    )
    per_token = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per_token.groupBy("source")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.expr("(1000 * n_types) div n_tokens").alias("ttr_milli"),
            F.expr("(1000 * n_hapax) div n_types").alias("hapax_milli"),
        )
        .orderBy("source")
    )


def bigram_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lambda_milli: int = 700,
) -> DataFrame:
    """Per-document INTERPOLATED bigram language-model score — the
    next-order sibling of :func:`unigram_nll`: each bigram (w1, w2)
    scores -ln(λ·p(w2|w1) + (1-λ)·p(w2)) under the corpus's own MLE
    counts, with λ in exact milli (default 0.7). Catches repetitive /
    shuffled-token text that fools a unigram scorer (likely unigrams in
    unlikely orders score high here).

    Exactness: the interpolated probability is ONE exact rational —
      (λm·c(w1,w2)·N + (1000-λm)·c(w2)·c(w1·)) / (1000·c(w1·)·N)
    — whose numerator/denominator build in DECIMAL(38,0) (c·N products
    overflow BIGINT at ~1e13 tokens), each cast to DOUBLE once for the
    single libm ln, rounded once to integer nanonats; per-doc totals
    are BIGINT sums of those integers (order-independent).

    Scale shape: (doc, bigram) pair counts collapse repeats before any
    join; the bigram and unigram-context relations are |distinct
    bigrams| / |vocab| — both join back on their keys (AQE broadcasts
    when small); the corpus total enters as a 1-row broadcast. Same
    three-shuffle skeleton as unigram_nll, zero Python.
    """
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    toks = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_ts")
    ).filter(F.size("_ts") >= 2)
    pairs = toks.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(F.col("_ts"), 1, F.size("_ts") - 1),
                F.slice(F.col("_ts"), 2, F.size("_ts") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("_bg"),
    ).select(id_col, F.col("_bg.w1").alias("_w1"), F.col("_bg.w2").alias("_w2"))
    doc_bg = pairs.groupBy(id_col, "_w1", "_w2").agg(
        F.count(F.lit(1)).alias("_n_dbg")
    )
    bg = doc_bg.groupBy("_w1", "_w2").agg(F.sum("_n_dbg").alias("_c_bg"))
    ctx = bg.groupBy("_w1").agg(F.sum("_c_bg").alias("_c_w1"))
    uni = bg.groupBy("_w2").agg(F.sum("_c_bg").alias("_c_w2"))
    total = ctx.agg(F.sum("_c_w1").alias("_n"))
    lm, lc = lambda_milli, 1000 - lambda_milli
    prob = (
        F.expr(
            f"CAST(CAST({lm} AS DECIMAL(38,0)) * _c_bg * _n"
            f" + CAST({lc} AS DECIMAL(38,0)) * _c_w2 * _c_w1 AS DOUBLE)"
        )
        / F.expr("CAST(CAST(1000 AS DECIMAL(38,0)) * _c_w1 * _n AS DOUBLE)")
    )
    scored = (
        doc_bg.join(bg, ["_w1", "_w2"])
        .join(ctx, "_w1")
        .join(uni, "_w2")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.col("_n_dbg"),
            (
                F.col("_n_dbg")
                * F.round(-F.log(prob) * F.lit(1e9), 0).cast("long")
            ).alias("_nanonats"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("_n_dbg").alias("n_bigrams"),
            F.sum("_nanonats").alias("_tot"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.expr("_tot div n_bigrams").alias("avg_nll_nano"),
        )
        .orderBy(id_col)
    )


def bpe_merge_rounds(
    docs: DataFrame,
    text_col: str = "text",
    rounds: int = 3,
    max_word_len: int = 24,
) -> DataFrame:
    """Distributed byte-pair-encoding TRAINING rounds (Sennrich et al.
    2016) — the tokenizer-fitting step of an LLM data pipeline, run as
    declarative DataFrame ops: collapse the corpus to a word-frequency
    table, then per round (a) count adjacent symbol pairs weighted by
    word frequency, (b) pick the most frequent pair (ties by symbol
    order — deterministic), (c) merge it everywhere.

    Words are space-separated symbol strings (' h e l l o '); the merge
    is string ``replace(' l r ' -> ' lr ')`` applied 5 times — leftmost
    non-overlapping replace defers an occurrence that shares a
    separator with a just-merged neighbor to the next pass, and 5
    passes reach the fixpoint for words <= ``max_word_len`` chars
    (occurrences per word <= 12, halved per pass). The fixpoint equals
    canonical left-to-right greedy BPE (verified against a pure-Python
    reference in tests); replace() has identical leftmost semantics in
    Spark and DuckDB, so the oracle replays every round exactly.

    Output: (merge_round, left_sym, right_sym, pair_count) — the merge
    table, one row per round.

    Scale shape: the corpus collapses to |distinct words| rows ONCE
    (the classic BPE trick — merging operates on the word dictionary,
    never the corpus); each round is one combinable pair-count shuffle
    + a 1-row TakeOrdered + a broadcast-joined narrow map. The
    dictionary is localCheckpoint-ed per round (the recurrence lesson
    from pagerank/label_propagation)."""
    from ..functions.text import tokens

    wf = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .select(F.substring("w", 1, max_word_len).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.concat(
                F.lit(" "), F.regexp_replace("word", "(.)", "$1 ")
            ).alias("sym"),
            "n",
        )
        .localCheckpoint(eager=True)
    )
    merges = []
    cur = wf
    for r in range(1, rounds + 1):
        syms = F.split(F.trim(F.col("sym")), " ")
        pairs_arr = F.when(
            F.size(syms) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(syms) - 1),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("l"),
                    F.element_at(syms, i + 1).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        pc = (
            cur.select(F.explode(pairs_arr).alias("p"), "n")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").alias("cnt"))
        )
        top = (
            pc.orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .localCheckpoint(eager=True)
        )
        merges.append(
            top.select(
                F.lit(r).alias("merge_round"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.col("cnt").alias("pair_count"),
            )
        )
        if r < rounds:
            pat = F.concat(
                F.lit(" "), F.col("l"), F.lit(" "), F.col("r"), F.lit(" ")
            )
            to = F.concat(F.lit(" "), F.col("l"), F.col("r"), F.lit(" "))
            new_sym = F.col("sym")
            for _ in range(5):
                new_sym = F.replace(new_sym, pat, to)
            cur = (
                cur.crossJoin(F.broadcast(top.select("l", "r")))
                .select(new_sym.alias("sym"), "n")
                .localCheckpoint(eager=True)
            )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


def _bpe_doc_words(
    docs: DataFrame, text_col: str, id_col: str, max_word_len: int
) -> DataFrame:
    """(id, word-position, truncated word) — the per-doc word stream both
    the encode join and the roundtrip original-stream derive from."""
    from ..functions.text import tokens

    return (
        ensure_scan_parallelism(docs)
        .select(
            F.col(id_col),
            F.posexplode(tokens(F.col(text_col))).alias("_widx", "_w"),
        )
        .filter(F.col("_w") != "")
        .select(
            id_col, "_widx", F.substring("_w", 1, max_word_len).alias("_word")
        )
    )


def _bpe_encode_words(
    dw: DataFrame, merges: DataFrame, rounds: int
) -> DataFrame:
    """Distinct-word dictionary -> encoded symbol arrays: the merge table
    pivots to ONE broadcast row and the R merges unroll into a chained
    codegen replace expression (zero shuffles, zero driver round-trips;
    a missing merge round leaves words unchanged rather than nulling)."""
    dict_df = (
        dw.select("_word")
        .distinct()
        .select(
            "_word",
            F.concat(
                F.lit(" "), F.regexp_replace("_word", "(.)", "$1 ")
            ).alias("_sym"),
        )
    )
    piv = merges.groupBy().agg(
        *[
            F.max(
                F.when(F.col("merge_round") == r, F.col("left_sym"))
            ).alias(f"_l{r}")
            for r in range(1, rounds + 1)
        ],
        *[
            F.max(
                F.when(F.col("merge_round") == r, F.col("right_sym"))
            ).alias(f"_r{r}")
            for r in range(1, rounds + 1)
        ],
    )
    sym = F.col("_sym")
    for r in range(1, rounds + 1):
        left, right = F.col(f"_l{r}"), F.col(f"_r{r}")
        pat = F.concat(F.lit(" "), left, F.lit(" "), right, F.lit(" "))
        to = F.concat(F.lit(" "), left, right, F.lit(" "))
        merged = sym
        for _ in range(5):
            merged = F.replace(merged, pat, to)
        sym = F.when(left.isNull(), sym).otherwise(merged)
    return dict_df.crossJoin(F.broadcast(piv)).select(
        "_word", F.split(F.trim(sym), " ").alias("_syms")
    )


def _bpe_vocab_of(enc: DataFrame) -> DataFrame:
    """Deterministic symbol vocabulary of an encoded word dictionary:
    id = row_number ordered by symbol — the single-partition window is
    VOCAB-sized (base chars + R merges), a parameter, not data."""
    from pyspark.sql import Window

    return (
        enc.select(F.explode("_syms").alias("_s"))
        .distinct()
        .select(
            "_s",
            F.row_number().over(Window.orderBy("_s")).cast("int").alias("_tid"),
        )
    )


def bpe_vocab(
    docs: DataFrame,
    merges: DataFrame,
    rounds: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_word_len: int = 24,
) -> DataFrame:
    """The (token_id, sym) vocabulary a :func:`bpe_encode` run produces —
    the relation :func:`bpe_decode` inverts ids through. Deterministic:
    distinct encoded symbols of the corpus dictionary, id = row_number by
    symbol, so the same (corpus, merges) always yields the same table."""
    dw = _bpe_doc_words(docs, text_col, id_col, max_word_len)
    enc = _bpe_encode_words(dw, merges, rounds)
    return _bpe_vocab_of(enc).select(
        F.col("_tid").alias("token_id"), F.col("_s").alias("sym")
    )


def bpe_decode(
    encoded: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
) -> DataFrame:
    """DECODE half of the tokenizer lifecycle: token-id sequences back to
    the character stream, via a broadcast vocabulary join — token ids
    posexplode, ids map to symbols, and the per-doc stream re-assembles
    with array_sort(collect_list(struct(pos, sym))) (partition-invariant,
    the encode discipline). Word boundaries are not part of the symbol
    alphabet, so the output is the UNSEPARATED character stream —
    exactly what the roundtrip audit compares against the concatenated
    normalized words. Zero-token docs survive with '' (left join +
    coalesce). Output: (id_col, decoded_chars)."""
    toks = encoded.select(
        F.col(id_col), F.posexplode(ids_col).alias("_pos", "_tid")
    ).join(
        F.broadcast(
            vocab.select(
                F.col("token_id").alias("_tid"), F.col("sym").alias("_s")
            )
        ),
        "_tid",
    )
    dec = toks.groupBy(id_col).agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_s"))),
                lambda e: e["_s"],
            ),
        ).alias("decoded_chars")
    )
    return (
        encoded.select(id_col)
        .join(dec, id_col, "left")
        .select(
            id_col,
            F.coalesce("decoded_chars", F.lit("")).alias("decoded_chars"),
        )
    )


def bpe_roundtrip_audit(
    docs: DataFrame,
    merges: DataFrame,
    rounds: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_word_len: int = 24,
) -> DataFrame:
    """Tokenizer-lifecycle closure audit: ENCODE the corpus with the
    trained merges, DECODE the token ids back through the vocabulary,
    and verify per document that the decoded character stream equals the
    original normalized word stream — the losslessness guarantee a
    training pipeline needs before it ships token ids instead of text.

    Output: (id_col, n_tokens, n_chars, roundtrip_ok) — ``n_chars`` is
    the decoded stream length and ``roundtrip_ok`` the equality flag
    (word boundaries are not in the symbol alphabet, so both sides are
    the UNSEPARATED concatenation of normalized, length-capped words).

    The decode is a genuine inversion (ids -> vocab symbols -> ordered
    re-concatenation), not a shortcut through the word dictionary, so a
    wrong vocabulary id, a dropped token, or an order bug all flip
    ``roundtrip_ok`` — and the DuckDB oracle replays train + encode +
    decode end-to-end, so the flag itself is differentially checked."""
    dw = _bpe_doc_words(docs, text_col, id_col, max_word_len)
    enc_words = _bpe_encode_words(dw, merges, rounds)
    vocab = _bpe_vocab_of(enc_words).select(
        F.col("_tid").alias("token_id"), F.col("_s").alias("sym")
    )
    encoded = bpe_encode(
        docs, merges, rounds, text_col, id_col, max_word_len
    )
    dec = bpe_decode(encoded, vocab, id_col)
    orig = dw.groupBy(id_col).agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_widx", "_word"))),
                lambda e: e["_word"],
            ),
        ).alias("_orig_chars")
    )
    return (
        encoded.join(dec, id_col)
        .join(orig, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.length("decoded_chars").cast("bigint").alias("n_chars"),
            (
                F.col("decoded_chars") == F.coalesce("_orig_chars", F.lit(""))
            ).alias("roundtrip_ok"),
        )
    )


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    rounds: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_word_len: int = 24,
    vocab: "DataFrame | None" = None,
) -> DataFrame:
    """Apply a trained BPE merge list (:func:`bpe_merge_rounds` output)
    to tokenize the corpus — the ENCODE half of the tokenizer lifecycle
    (round 9), turning "trained merges" into the per-document token-id
    sequences and REAL token counts that pack_sequences /
    mixture_allocation / pack_efficiency consume (instead of the
    whitespace-proxy counts they default to).

    Algorithm: canonical sequential BPE encode — merges applied in
    TRAINING ORDER, each replacing every occurrence in every word
    before the next is considered (for merges produced greedily by
    training, this equals per-pair-priority encoding). Each merge is
    the identical 5-pass leftmost space-separated ``replace`` used in
    training (fixpoint-exact for words <= ``max_word_len`` chars), so
    encode(train(corpus)) over the training corpus reproduces training's
    final dictionary state exactly — asserted against a pure-Python
    greedy reference in tests.

    Plan shape (all JVM-side, no Python UDF anywhere):
    1. the corpus collapses to the DISTINCT-word dictionary once (the
       same trick training uses — merging work is |vocab words|, never
       corpus-sized);
    2. the merge table pivots to ONE broadcast row (l1..lR, r1..rR) and
       the R merges unroll into a chained codegen replace expression —
       zero shuffles, zero driver round-trips (a merge row missing from
       the table leaves the word unchanged rather than nulling it);
    3. symbol vocabulary = distinct encoded symbols, id = row_number
       ordered by symbol — deterministic, and the single-partition
       window is VOCAB-sized (base chars + R merges), a parameter, not
       data;
    4. word -> id array via a broadcast vocab join re-assembled with
       array_sort(collect_list(struct(pos, id))) — partition-invariant;
    5. docs join the word dictionary on the word (one shuffle keyed on
       the word, df-bounded) and per-doc sequences re-assemble ordered
       by word position. Docs with zero tokens survive with an empty
       array (left join), so downstream packing sees every doc.

    Output: (id_col, n_tokens BIGINT, token_ids ARRAY<INT>) — token ids
    index the deterministic symbol vocabulary.

    ``vocab`` (round 10): pass a FROZEN (token_id, sym) vocabulary —
    e.g. from :func:`load_tokenizer` — instead of deriving it from the
    corpus being encoded.  This is the train-once/encode-daily deploy
    shape: ids stay stable across batches; symbols outside the frozen
    vocabulary encode as the UNK sentinel ``-1``.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    dw = _bpe_doc_words(docs, text_col, id_col, max_word_len)
    enc = _bpe_encode_words(dw, merges, rounds)
    if vocab is None:
        # corpus-derived vocabulary (total by construction — every
        # encoded symbol appears in it, so left == inner here)
        voc = _bpe_vocab_of(enc)
    else:
        # FROZEN vocabulary from a persisted tokenizer artifact
        # (save_tokenizer/load_tokenizer): symbols the training corpus
        # never produced map to the UNK sentinel -1 — deterministic,
        # and downstream counts still see every token position
        voc = vocab.select(
            F.col("sym").alias("_s"), F.col("token_id").alias("_tid")
        )
    wids = (
        enc.select("_word", F.posexplode("_syms").alias("_pos", "_s"))
        .join(F.broadcast(voc), "_s", "left")
        .withColumn("_tid", F.coalesce("_tid", F.lit(-1)))
        .groupBy("_word")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_tid"))),
                lambda e: e["_tid"],
            ).alias("_ids")
        )
    )
    per_doc = (
        dw.join(wids, "_word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_widx", "_ids"))),
                    lambda e: e["_ids"],
                )
            ).alias("token_ids")
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("token_ids", F.array().cast("array<int>")).alias(
                "token_ids"
            ),
        )
        .select(
            id_col,
            F.size("token_ids").cast("bigint").alias("n_tokens"),
            "token_ids",
        )
    )


TOKENIZER_FORMAT_VERSION = 1


def save_tokenizer(
    merges: DataFrame,
    vocab: DataFrame,
    path: str,
    rounds: int,
    max_word_len: int = 24,
) -> None:
    """Persist a trained BPE tokenizer as a VERSIONED parquet artifact —
    the S7 model-sink analogue for the tokenizer lifecycle (train once,
    encode daily; compare ml.pipelines.save_model for MLlib pipelines).

    Layout under ``path``: ``merges.parquet`` (the
    :func:`bpe_merge_rounds` table — merge_round, left_sym, right_sym,
    pair_count), ``vocab.parquet`` (the :func:`bpe_vocab` table —
    token_id, sym), and ``meta.json`` pinning ``format_version``,
    ``rounds`` and ``max_word_len`` so a loader can refuse artifacts
    written by an incompatible future layout instead of silently
    mis-encoding.  Both relations are parameter-sized (R merge rows,
    |vocab| symbol rows), so overwrite-mode parquet writes are trivial
    at any corpus scale."""
    import json as _json
    import os as _os

    merges.select(
        "merge_round", "left_sym", "right_sym", "pair_count"
    ).write.mode("overwrite").parquet(_os.path.join(path, "merges.parquet"))
    vocab.select("token_id", "sym").write.mode("overwrite").parquet(
        _os.path.join(path, "vocab.parquet")
    )
    meta = {
        "format_version": TOKENIZER_FORMAT_VERSION,
        "rounds": int(rounds),
        "max_word_len": int(max_word_len),
    }
    with open(_os.path.join(path, "meta.json"), "w") as fh:
        _json.dump(meta, fh, indent=1, sort_keys=True)
        fh.write("\n")


def load_tokenizer(spark, path: str) -> dict:
    """Load a :func:`save_tokenizer` artifact.  Returns ``{"merges":
    DataFrame, "vocab": DataFrame, "rounds": int, "max_word_len": int}``
    — exactly the arguments :func:`bpe_encode` consumes
    (``bpe_encode(docs, t["merges"], t["rounds"],
    max_word_len=t["max_word_len"], vocab=t["vocab"])``), with the
    frozen vocabulary keeping ids stable across daily batches.

    Raises ``ValueError`` on a missing/garbled ``meta.json`` or a
    ``format_version`` this code does not understand (the stale-version
    guard: refusing is strictly better than silently mis-encoding a
    training corpus)."""
    import json as _json
    import os as _os

    meta_path = _os.path.join(path, "meta.json")
    try:
        with open(meta_path) as fh:
            meta = _json.load(fh)
    except (OSError, ValueError) as exc:
        raise ValueError(
            f"not a tokenizer artifact (no readable meta.json): {path}"
        ) from exc
    ver = meta.get("format_version")
    if ver != TOKENIZER_FORMAT_VERSION:
        raise ValueError(
            f"tokenizer artifact {path} has format_version {ver!r}; this "
            f"code reads version {TOKENIZER_FORMAT_VERSION} — re-train or "
            "upgrade"
        )
    return {
        "merges": spark.read.parquet(_os.path.join(path, "merges.parquet")),
        "vocab": spark.read.parquet(_os.path.join(path, "vocab.parquet")),
        "rounds": int(meta["rounds"]),
        "max_word_len": int(meta["max_word_len"]),
    }


def tfidf_cosine_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_term_df: int = 50,
    top_n: int = 50,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity pairs — the lexical near-dup /
    related-document measure computed WITHOUT dense vectors: documents
    are bags of (term, weight) postings and the dot product runs
    term-at-a-time through a posting-list join, the sparse-retrieval
    shape (term partials, never a dense crossJoin).

    Weights are integer: ``w = tf * idf_milli`` with
    ``idf_milli = floor(ln(N / df) * 1000 + 0.5)`` (floor rounds
    identically everywhere; round() half-rule differs) — one double ln
    identically evaluated by both engines, then BIGINT arithmetic, so
    numerators and norms are EXACT (norm accumulation in DECIMAL(38,0)
    — w*w stays under 2^63 but a 100 TB-scale document could push the
    SUM past it). Final cosine is two sqrt's and one division, round 6.

    Candidate pairs come from terms shared by <= ``max_term_df``
    documents (rare terms; boilerplate terms would explode the
    quadratic and contribute least weight) — then each candidate pair's
    cosine is computed over ALL its shared terms via two id-keyed joins
    back to the postings, so the SCORE is exact even though candidate
    GENERATION is blocked (same discipline as containment_pairs).

    Output: (id_a, id_b, cosine) with cosine >= threshold, ordered by
    cosine desc then ids, limited to ``top_n``."""
    # spread unsplittable scans (guide 2.5) — tokenize fuses into it
    docs = ensure_scan_parallelism(docs)
    tf = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("_id", "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    n_docs = docs.select(
        F.countDistinct(id_col).alias("_n")
    )
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    weighted = (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "_id",
            "term",
            "_df",
            (
                F.col("_tf")
                * F.floor(
                    F.log(F.col("_n").cast("double") / F.col("_df"))
                    * F.lit(1000.0)
                    + F.lit(0.5)
                ).cast("long")
            ).alias("_w"),
        )
        .localCheckpoint(eager=True)  # feeds candidates, norms, and both
        # sides of the pair-scoring join
    )
    norms = weighted.groupBy("_id").agg(
        F.sum(F.col("_w").cast("decimal(38,0)") * F.col("_w")).alias(
            "_norm"
        )
    )
    rare = weighted.filter(F.col("_df") <= max_term_df)
    cand = (
        rare.select("term", F.col("_id").alias("id_a"))
        .join(rare.select("term", F.col("_id").alias("id_b")), "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    pa = weighted.select(
        F.col("_id").alias("id_a"), "term", F.col("_w").alias("_wa")
    )
    pb = weighted.select(
        F.col("_id").alias("id_b"), "term", F.col("_w").alias("_wb")
    )
    num = (
        cand.join(pa, "id_a")
        .join(pb, ["id_b", "term"])
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.col("_wa").cast("decimal(38,0)") * F.col("_wb")).alias(
                "_num"
            )
        )
    )
    na = norms.select(F.col("_id").alias("id_a"), F.col("_norm").alias("_na"))
    nb = norms.select(F.col("_id").alias("id_b"), F.col("_norm").alias("_nb"))
    scored = (
        num.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("_num").cast("double")
                / (
                    F.sqrt(F.col("_na").cast("double"))
                    * F.sqrt(F.col("_nb").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return scored.orderBy(
        F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(top_n)


#: Integer micro-unit NDCG position weights: floor(1e6 / log2(r+1) + 0.5)
#: for rank r, computed ONCE in Python and embedded as literals in BOTH
#: engines — no cross-engine log2 in the data path at all.
def ndcg_weights(k: int) -> list[int]:
    import math

    return [int(math.floor(1e6 / math.log2(r + 1) + 0.5)) for r in range(1, k + 1)]


def ndcg_at_k(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """NDCG@k of the BM25 ranking against graded term-coverage relevance
    — the retrieval-quality eval run before trusting a ranker change.
    Relevance of a document = how many DISTINCT query terms it contains
    (0..len(terms)); DCG = sum of rel * w_rank over the top k with the
    standard 1/log2(rank+1) discount, IDCG over the k best relevances in
    the corpus; NDCG = DCG/IDCG.

    Exactness: discounts are integer micro-units from
    :func:`ndcg_weights` (Python literals shared with the oracle), so
    DCG and IDCG are exact BIGINTs; the single final division is the
    only float op.

    Scale shape: the ranking is the bm25_topk TakeOrdered head; the
    ideal list is its own TakeOrdered over the per-doc relevance map
    (never a global window); both joins touch only k-row relations."""
    from pyspark.sql import Window

    ranked = bm25_topk(df, query_terms, k=k, id_col=id_col, text_col=text_col)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    ranked = ranked.withColumn("_rank", F.row_number().over(w))
    toks = tokens(F.col(text_col))
    rel = df.select(
        F.col(id_col),
        F.size(
            F.array_intersect(
                F.array_distinct(toks),
                F.array(*[F.lit(t) for t in query_terms]),
            )
        ).cast("long").alias("_rel"),
    )
    warr = F.array(*[F.lit(x) for x in ndcg_weights(k)])
    dcg = (
        ranked.join(rel, id_col)
        .select((F.element_at(warr, F.col("_rank")) * F.col("_rel")).alias("_g"))
        .agg(F.sum("_g").alias("dcg_micro"))
    )
    ideal_top = rel.orderBy(F.col("_rel").desc(), F.col(id_col).asc()).limit(k)
    w_ideal = Window.orderBy(F.col("_rel").desc(), F.col(id_col).asc())
    idcg = (
        ideal_top.withColumn("_r", F.row_number().over(w_ideal))
        .select((F.element_at(warr, F.col("_r")) * F.col("_rel")).alias("_g"))
        .agg(F.sum("_g").alias("idcg_micro"))
    )
    return dcg.crossJoin(idcg).select(
        F.lit(k).alias("k"),
        "dcg_micro",
        "idcg_micro",
        F.round(F.col("dcg_micro") / F.col("idcg_micro"), 6).alias("ndcg"),
    )


def _dsir_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The hashed-n-gram feature stream DSIR fits and scores on: word
    unigrams + bigrams per document, exploded to one row per occurrence.
    Kept as a helper so the fit corpora and the scored corpus tokenize
    identically by construction (a tokenizer mismatch between fit and
    score silently corrupts every weight)."""
    df = ensure_scan_parallelism(df)  # spread unsplittable scans (guide 2.5)
    ws = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_ws")
    )
    feats = ws.select(
        F.col(id_col),
        F.explode(
            F.concat(
                F.col("_ws"),
                # element_at is 1-based like the DuckDB replay; a
                # single-token doc must yield NO bigrams (sequence(1, 0)
                # would DESCEND, fabricating a reversed pair)
                F.when(
                    F.size("_ws") >= 2,
                    F.expr(
                        "transform(sequence(1, size(_ws) - 1), i -> "
                        "concat(element_at(_ws, i), ' ', "
                        "element_at(_ws, i + 1)))"
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        ).alias("_f"),
    )
    return feats


def dsir_log_ratios(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR's importance model (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): hashed-n-gram bag
    distributions for a small in-domain TARGET corpus and the large RAW
    corpus, returned as the per-bucket log-likelihood-ratio relation
    ``(bucket, ratio_nanonats)`` with add-1 smoothing over the fixed
    bucket space.

    Cross-engine exactness (the :func:`unigram_nll` kernel): each
    side's ``ln((c + 1) / (N + B))`` is rounded ONCE to integer
    nanonats, the ratio is a BIGINT difference — no float accumulation
    anywhere downstream.  Buckets are ``md5 % B`` (the engine's
    cross-engine hash contract), so the oracle replays the feature
    hashing bit-for-bit.

    Scale shape: both fits are one combinable (bucket) count each —
    map-side combined, shuffling at most ``n_buckets`` rows per corpus
    — and the totals enter as 1-row broadcasts.  The output relation
    is parameter-sized (≤ B rows): broadcast it into the scorer.
    Buckets absent from the raw fit are irrelevant by construction
    (the scored corpus IS the raw corpus, so every scored feature's
    bucket appears in the raw counts); absent target buckets take the
    smoothed floor ``ln(1 / (N_t + B))``."""
    from ..functions.hashing import md5_hash60

    def bucket_counts(df: DataFrame, name: str) -> DataFrame:
        f = _dsir_features(df, text_col, id_col)
        return (
            f.select(F.pmod(md5_hash60(F.col("_f")), F.lit(n_buckets)).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(name))
        )

    ct = bucket_counts(target, "_ct")
    cr = bucket_counts(raw, "_cr")
    nt = ct.agg(F.sum("_ct").alias("_nt"))
    nr = cr.agg(F.sum("_cr").alias("_nr"))

    def nanolog(count_col: str, total_col: str) -> Column:
        return F.round(
            F.log(
                (F.coalesce(F.col(count_col), F.lit(0)) + 1).cast("double")
                / (F.col(total_col) + n_buckets).cast("double")
            )
            * F.lit(1e9),
            0,
        ).cast("long")

    return (
        cr.join(ct, "bucket", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select(
            "bucket",
            (nanolog("_ct", "_nt") - nanolog("_cr", "_nr")).alias(
                "ratio_nanonats"
            ),
        )
    )


def dsir_select(
    target: DataFrame,
    raw: DataFrame,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """DSIR data selection: score every RAW document by its hashed-
    n-gram importance log-weight ``sum_f count_f * (ln p_target(f) -
    ln p_raw(f))`` under the add-1-smoothed bucket models of
    :func:`dsir_log_ratios`, and keep the top ``k`` (weight desc,
    id asc).  The published recipe perturbs weights with Gumbel noise
    to SAMPLE instead of top-k; the deterministic argmax variant is
    the engine's replayable contract (the Gumbel seam composes as one
    extra column if sampling is ever needed — determinism here is what
    lets the oracle differentially check every weight).

    Output: (id, *passthrough, n_feats, weight_nanonats, sel_rank).

    Scale shape: the scorer is one (doc, bucket) combinable count, a
    broadcast join against the ≤ B-row ratio relation, one combinable
    per-doc BIGINT sum, and a TakeOrdered top-k — no corpus-sized
    shuffle beyond the per-doc aggregation, no driver materialization
    beyond k rows.  Per-doc products are bounded by ``n_tokens_doc *
    ~5e10`` nanonats, far inside BIGINT for any real document."""
    from pyspark.sql import Window

    from ..functions.hashing import md5_hash60

    ratios = dsir_log_ratios(
        target, raw, text_col=text_col, id_col=id_col, n_buckets=n_buckets
    )
    doc_buckets = (
        _dsir_features(raw, text_col, id_col)
        .select(
            F.col(id_col),
            F.pmod(md5_hash60(F.col("_f")), F.lit(n_buckets)).alias("bucket"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("_n_db"))
    )
    weights = (
        doc_buckets.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("_n_db").cast("bigint").alias("n_feats"),
            F.sum(F.col("_n_db") * F.col("ratio_nanonats"))
            .cast("bigint")
            .alias("weight_nanonats"),
        )
    )
    cols = [id_col] + list(passthrough or [])
    out = weights.join(raw.select(*cols), id_col)
    order = [F.col("weight_nanonats").desc(), F.col(id_col).asc()]
    # top-k FIRST (TakeOrdered — no global sort, no corpus-wide window);
    # the rank window then runs over only the k surviving rows
    topk = out.orderBy(*order).limit(k)
    return topk.withColumn(
        "sel_rank", F.row_number().over(Window.orderBy(*order)).cast("int")
    )
