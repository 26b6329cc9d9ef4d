"""Text-analysis operators over the documents table — the training-data
pipeline surface (north star; absent from the reference, which never
touches free text — SURVEY.md §2.6 'Absent' row).

All JVM-side Column algebra (split/regexp/aggregate) — no Python UDFs —
with one documented exception: compression_ratio, an Arrow-batched
scalar pandas UDF (zlib has no Column-algebra form). At 100 TB the
Column-algebra operators run per-document in whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_PATTERN = r"\s+"


def tokens_expr(text_col: str, lowercase: bool = False) -> Column:
    """Whitespace tokenization of trimmed text → array<string>."""
    c = F.trim(F.col(text_col))
    if lowercase:
        c = F.lower(c)
    return F.split(c, TOKEN_PATTERN)


def let_expr(value: Column, body) -> Column:
    """LET-binding for Column expressions: evaluate ``value`` ONCE, bind
    it to a lambda variable, return ``body(var)``.

    Spark SQL has no LET, and interpreted higher-order functions
    re-evaluate every captured EXPRESSION at every reference (no common-
    subexpression elimination). Without binding, an expensive
    subexpression referenced inside a per-element lambda is recomputed
    PER ELEMENT — e.g. ``slice(split(text), i, n)`` re-splits the whole
    text for every shingle, O(len²) per doc (measured 113 s for a single
    flags pass over 50 k sf1 docs; ~3 s bound). ``transform`` over a
    single-element array calls ``body`` exactly once with the element as
    a variable; ``[0]`` unwraps the result."""
    return F.transform(F.array(value), body)[0]


def tokens_sql(text_col: str, lowercase: bool = False) -> str:
    """SQL-string twin of :func:`tokens_expr` — same expression tree,
    built as one parse instead of per-node Py4J calls. The Column-API
    builders cost one driver↔JVM round-trip per expression node
    (~0.4–1.5 ms each); for the shingle/minhash trees that is ~1 s of
    single-threaded driver time PER QUERY CONSTRUCTION, independent of
    cluster size (the add_simhash lesson, applied to the rest of the
    text family in r13-opt). ``F.expr`` parses the whole tree in ONE
    round-trip; the analyzed plan is identical."""
    c = f"trim(`{text_col}`)"
    if lowercase:
        c = f"lower({c})"
    return f"split({c}, '\\\\s+')"


def shingles_sql(tokens: str, n: int = 3) -> str:
    """SQL-string twin of :func:`shingles_expr` (same let-binding via
    transform-over-single-element-array, same short-doc guard)."""
    body = (
        f"CASE WHEN size(t) >= {n} THEN array_distinct(transform("
        f"sequence(0, size(t) - {n}), i -> concat_ws(' ', slice(t, i + 1, {n}))))"
        f" ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return f"transform(array({tokens}), t -> {body})[0]"


def parallelize_narrow_scan(df: DataFrame) -> DataFrame:
    """Spread a low-partition input across the cluster before heavy
    per-row map work (shingling, per-token hashing, per-char-gram md5).

    A small parquet file arrives as ONE scan partition (a 50 MB file at
    bench scale), which serializes the CPU-dominant map stage on a
    single core while the rest of the cluster idles. Repartitioning
    costs one shuffle of the raw rows — trivially repaid when the map
    work is the bottleneck. At 100 TB the scan already has thousands of
    splits, so the guard makes this a no-op there (getNumPartitions is
    file-listing metadata, no job).

    Width: 8× the current split count, capped at the cluster's
    parallelism — each ≤128 MB input split spreads over ~16 MB chunks.
    Fanning a small file all the way to every core is
    counterproductive: measured on a 50 MB/5000-doc file (32 cores),
    8-way repartition runs the simhash pipeline in ~0.57 s vs ~0.95 s
    at 32-way (scheduling + shuffle overhead) and ~4.6 s cold at 1-way.
    """
    sc = df.sparkSession.sparkContext
    n = df.rdd.getNumPartitions()
    target = min(sc.defaultParallelism, n * 8)
    if n < target:
        return df.repartition(target)
    return df


def shingles_expr(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct) from a token array — the unit of
    near-dup detection. Pure SQL transform/slice: no UDF, no shuffle.

    Guarded for docs shorter than n tokens: Spark's sequence(0, -1) would
    count DOWN (implicit step −1), so short docs must short-circuit to [].
    ``tokens`` is let-bound so the (typically split()) expression is
    evaluated once per row, not once per shingle (see let_expr).
    """

    def body(t: Column) -> Column:
        return F.when(
            F.size(t) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - n),
                    lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let_expr(tokens, body)


def add_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting + lexical stats in one map-only select:
    n_tokens, n_uniq_tokens, avg_token_len, type-token ratio."""
    toks = tokens_expr(text_col)
    n = F.size(toks)
    charlen = F.length(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", ""))
    return df.select(
        "*",
        n.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        (charlen / n).alias("avg_token_len"),
        (F.size(F.array_distinct(toks)) / n).alias("ttr"),
    )


def quality_score_expr(
    n_tokens: Column, ttr: Column, target_len: int = 100
) -> Column:
    """Heuristic document quality ∈ [0,1]: length saturation × lexical
    diversity — the scoring shape used by LLM-corpus filters (length /
    repetition signals), kept SQL-expressible for the oracle."""
    return 0.5 * F.least(F.lit(1.0), n_tokens / F.lit(float(target_len))) + 0.5 * ttr


def add_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    out = add_token_stats(df, text_col)
    return out.withColumn(
        "quality_score", quality_score_expr(F.col("n_tokens"), F.col("ttr"))
    )


def lang_id_by_markers(
    df: DataFrame,
    text_col: str,
    markers: Mapping[str, Sequence[str]],
    out_col: str = "predicted_lang",
) -> DataFrame:
    """Marker-word language ID: score(lang) = # marker words present in
    the token set; argmax with deterministic (alphabetical) tiebreak.

    The classic stopword-profile heuristic (n-gram profiling à la
    Cavnar-Trenkle reduces to this for word-unigrams). Pure CASE/array
    algebra → SQL-expressible; real deployments feed real stopword lists
    per language.
    """
    toks = F.array_distinct(tokens_expr(text_col, lowercase=True))
    scores = {
        lang: reduce(
            lambda a, b: a + b,
            [F.array_contains(toks, w).cast("int") for w in words],
        )
        for lang, words in markers.items()
    }
    # argmax, alphabetical-first tiebreak: walk langs in sorted order,
    # pick the first whose score ≥ every other — identical CASE chain to
    # the SQL oracle, so the two stay provably in lockstep.
    langs = sorted(scores)
    expr = None
    for lang in langs:
        cond = reduce(
            lambda a, b: a & b,
            [scores[lang] >= scores[o] for o in langs if o != lang],
            F.lit(True),
        )
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return df.withColumn(out_col, expr.otherwise(langs[0]))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every character k-gram (md5[:15hex] → bigint,
    the engine's cross-engine hash idiom), slide a w-window over the hash
    sequence, keep each window's minimum, distinct per doc. Guarantees:
    any shared substring of length ≥ k+w-1 yields a shared fingerprint.

    Entirely JVM Column algebra (transform/slice/array_min) — map-only,
    no shuffle until the caller aggregates. Output: (id_col, fp) exploded.
    Short docs (< k chars) produce no fingerprints — guarded explicitly
    because Spark's sequence(1, 0) counts DOWN instead of being empty.

    The per-gram hash array is LET-bound (see let_expr): projected as a
    named column it gets re-inlined by CollapseProject into every window's
    ``slice`` — re-hashing the whole doc per window, O(len²) md5 calls
    (measured 82.5 s for the sf1 corpus; ~9 s bound)."""
    hashes = F.expr(
        f"transform(sequence(1, length({text_col}) - {k - 1}),"
        f" i -> cast(conv(substr(md5(substr({text_col}, i, {k})), 1, 15),"
        " 16, 10) AS BIGINT))"
    )

    def windows(h: Column) -> Column:
        return F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(h) - (w - 1), F.lit(1))
                ),
                lambda j: F.array_min(F.slice(h, j, w)),
            )
        )

    fps = F.when(
        F.length(text_col) >= k, let_expr(hashes, windows)
    ).otherwise(F.array().cast("array<bigint>"))
    return df.select(F.col(id_col), F.explode(fps).alias("fp"))


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split documents into fixed-size token chunks with overlap
    (chunk_size − stride tokens shared between neighbors) — the
    context-window chunking step of a training-data pipeline, as pure
    Column algebra: tokenize → explode chunk-start positions
    (sequence with step=stride) → slice the token array per start.

    Map-only (explode fans out rows inside the scan stage, no shuffle);
    at 100 TB this runs at full scan throughput and the output lands
    directly in the training-shard writer. Every doc yields ≥1 chunk
    (greatest(1, n) guard covers docs shorter than one stride); the
    final chunk is short rather than padded, n_tokens says how short.
    """
    toks = tokens_expr(text_col)
    starts = F.explode(
        F.sequence(
            F.lit(1), F.greatest(F.lit(1), F.size("w")), F.lit(stride)
        )
    )
    return (
        df.select(F.col(id_col), toks.alias("w"))
        .select(F.col(id_col), F.col("w"), starts.alias("start"))
        .select(
            id_col,
            ((F.col("start") - 1) / stride).cast("int").alias("chunk_id"),
            F.array_join(F.slice("w", F.col("start"), chunk_size), " ").alias(
                "chunk_text"
            ),
            F.least(
                F.lit(chunk_size), F.size("w") - F.col("start") + 1
            ).alias("n_tokens"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1, sklearn's smoothing — never zero, no
    division hazards). Ranking uses the ROUNDED score with the term as
    tiebreaker, so ordering is total and engine-independent.

    Shuffle discipline: one shuffle keyed on (doc, term) for TF, one on
    term for DF, a term-keyed join back, and the per-doc top-k window on
    the doc key. The DF table is vocabulary-sized — sublinear in corpus
    size but unbounded, so it carries NO broadcast hint: Catalyst
    broadcasts it while small and co-partitions on term beyond. The
    corpus size N arrives via a broadcast 1-row cross join, not a
    driver-side count — the whole computation stays one lazy plan.

    r14 note: r13 replaced the DF join-back with count-over-window on
    term to avoid re-evaluating the tokenize pipeline per join branch;
    the driver bench measured it −29% (PERF_r13: 0.882→1.240 s — the
    join-back's DF side is small enough to broadcast, while the window
    costs a full Exchange+Sort on term), and at 100 TB a stopword term
    is a hot key that a window cannot split (AQE skew handling is
    joins-only, guide §2.5). Reverted to the aggregate+join form.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens_expr(text_col, lowercase=True)).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
                    + 1.0
                ),
                4,
            ),
        )
    )
    from pyspark.sql.window import Window  # noqa: PLC0415

    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "tfidf", "rank")
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval for a bag of query terms — the lexical
    search scorer of a retrieval pipeline, as pure DataFrame algebra:

        tokenize → explode → keep query terms only (pushed before the
        TF shuffle, so the plan touches query-term postings, not the
        whole index) → tf per (doc, term), df per term → BM25 formula →
        per-doc sum → top-k.

    idf uses the +1-inside-ln variant (always positive). Ranking is on
    the ROUNDED score with id tiebreak → total, engine-independent
    order. Corpus stats (N, avgdl) ride in on broadcast 1-row frames;
    the df table is vocabulary-of-query-sized → broadcast join.
    """
    # Tokenize ONCE (r13-opt): the former lazy DAG evaluated the
    # tokenize→explode pipeline three times (doclen branch, stats
    # branch, query-term TF branch) because concurrently-consumed lazy
    # subtrees are never deduped. The per-doc term-frequency table is
    # materialized once (eager localCheckpoint, the engine's standard
    # collapse barrier) and every corpus statistic derives from it:
    # dl = Σ_term tf (the dl-identity the lexical index also uses),
    # n_docs = |rows of doclen|, total_dl = Σ dl. Identical values.
    toks = df.select(
        F.col(id_col),
        F.explode(tokens_expr(text_col, lowercase=True)).alias("term"),
    )
    tf_all = (
        toks.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    doclen = tf_all.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
    )
    tf = tf_all.filter(
        F.col("term").isin([t.lower() for t in query_terms])
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("total_dl") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    per_term = (
        tf.join(F.broadcast(dfreq), "term")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "score",
            idf
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)),
        )
    )
    scored = per_term.groupBy(id_col).agg(
        F.round(F.sum("score"), 4).alias("bm25")
    )
    return (
        scored.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)
    )


def lexical_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Materializable lexical (inverted) index state: ``postings``
    (id, term, tf) and ``doclen`` (id, dl) — the two frames BM25/TF-IDF
    scoring needs, and the unit of INCREMENTAL retrieval maintenance
    (the text-search twin of lsh_band_index). Persist postings
    partitioned by term (query-term pruning) and doclen by id; corpus
    stats (N, total_dl, per-term df) derive from these by aggregation —
    or, in a continuous-ingest deployment, are maintained as monoid
    partials (operators/incremental.py) instead of recomputed."""
    toks = df.select(
        F.col(id_col),
        F.explode(tokens_expr(text_col, lowercase=True)).alias("term"),
    )
    postings = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    doclen = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    return postings, doclen


def lexical_index_delta(
    postings: DataFrame,
    doclen: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    return_resent: bool = False,
) -> tuple[DataFrame, DataFrame] | tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental lexical-index maintenance: tokenize ONLY the delta
    and return (new_postings, new_doclen) to append — appending keeps
    the index equal to a full rebuild (tokenization is per-doc, so
    history rows never change). O(delta) work; the stored index is
    read only for the bounded dup-id probe below.

    Replay idempotence (the delta-index family contract): a re-sent id
    with IDENTICAL content contributes identical rows, so it is
    dropped; a re-sent id with CHANGED content is re-emitted. Unlike
    the LSH twins, detection here is PROVABLY exact: a doc is
    unchanged iff its delta dl equals its stored dl AND every delta
    posting row exists in the stored postings — tf values are
    positive and dl = Σ tf, so an equal sum over a subset forces the
    sets equal (no strict-subset blind spot). Changed ids' old rows
    remain under append-only storage (delete-or-compact for replace
    semantics, same note as lsh_index_delta).

    ``return_resent=True`` (r12, VERDICT r11 #5) additionally returns
    the changed-re-send id set — exactly the ids that become
    MULTI-VERSION when the caller appends the fresh rows. The
    streaming sink writes them to the store's ``_mv`` manifest so the
    latest-wins readers never need an aggregate over the store; the
    set is the verdict's changed rows, at no extra cost.

    Two materialization points, each evaluated once: the delta's
    postings (the batch is tokenized ONCE; its doclen is Σ tf per doc
    over them, equal to the token count because both count the same
    exploded tokens) and the delta-sized re-send VERDICT (dup id →
    changed or not), which holds the only reads of ``postings`` and
    ``doclen``. All returned frames are lazy over those two, so a
    caller may write to the stores it read from without the returned
    frames ever reading them again."""
    d_post = lexical_index(new_docs, text_col, id_col)[0].localCheckpoint(
        eager=True
    )
    # coalesce keeps dl non-nullable, as lexical_index's count is, so
    # the stored doclen schema does not change
    d_len = d_post.groupBy(id_col).agg(
        F.coalesce(F.sum("tf"), F.lit(0)).alias("dl")
    )
    dup_ids = doclen.select(id_col).join(
        F.broadcast(d_len.select(id_col)), id_col, "left_semi"
    ).distinct()
    dup_stored_post = postings.join(F.broadcast(dup_ids), id_col, "left_semi")
    dup_stored_len = doclen.join(F.broadcast(dup_ids), id_col, "left_semi")
    changed_by_len = (
        d_len.join(F.broadcast(dup_ids), id_col, "left_semi")
        .join(dup_stored_len, [id_col, "dl"], "left_anti")
        .select(id_col)
    )
    changed_by_post = (
        d_post.join(F.broadcast(dup_ids), id_col, "left_semi")
        .join(dup_stored_post, [id_col, "term", "tf"], "left_anti")
        .select(id_col)
    )
    changed_ids = (
        changed_by_len.unionByName(changed_by_post)
        .distinct()
        .withColumn("changed", F.lit(True))
    )
    verdict = (
        dup_ids.join(changed_ids, id_col, "left")
        .select(id_col, F.coalesce("changed", F.lit(False)).alias("changed"))
        .localCheckpoint(eager=True)
    )
    unchanged_dups = verdict.filter(~F.col("changed")).select(id_col)
    fresh_post = d_post.join(F.broadcast(unchanged_dups), id_col, "left_anti")
    fresh_len = d_len.join(F.broadcast(unchanged_dups), id_col, "left_anti")
    if return_resent:
        return fresh_post, fresh_len, verdict.filter("changed").select(id_col)
    return fresh_post, fresh_len


def tfidf_top_terms_from_index(
    postings: DataFrame,
    n_docs: int,
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Top-k characteristic terms per document from a MATERIALIZED
    lexical index (lexical_index / lexical_index_delta) — identical
    scoring and ranking to :func:`tfidf_top_terms` (certified:
    tfidf_incremental_top_terms hash-matches the from-raw-text
    oracle), but the per-term df and tf come from stored postings
    instead of re-tokenizing the corpus. ``n_docs`` is the corpus
    cardinality — a maintained stat in a continuous-ingest deployment
    (one monoid counter, see operators/incremental.py), passed in
    rather than recomputed so the plan stays index-only."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    dfreq = postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = postings.join(dfreq, "term").withColumn(
        "tfidf",
        F.round(
            F.col("tf")
            * (F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0),
            4,
        ),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "tfidf", "rank")
    )


def bm25_search_from_index(
    postings: DataFrame,
    doclen: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k from a MATERIALIZED lexical index (lexical_index /
    lexical_index_delta) — identical scoring to :func:`bm25_search`
    (certified: bm25_incremental_search hash-matches the from-raw-text
    oracle), but the plan touches stored query-term postings instead
    of re-tokenizing the corpus: with postings partitioned by term the
    TF read is partition-pruned to the query's terms — the difference
    between a search request and a corpus scan at 100 TB. Corpus
    stats ride in on broadcast 1-row aggregates of doclen."""
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
    )
    tf = postings.filter(
        F.col("term").isin([t.lower() for t in query_terms])
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("total_dl") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    per_term = (
        tf.join(F.broadcast(dfreq), "term")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "score",
            idf
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)),
        )
    )
    scored = per_term.groupBy(id_col).agg(
        F.round(F.sum("score"), 4).alias("bm25")
    )
    return scored.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)


def pack_greedy(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    size_col: str,
    budget: int,
    pack_col: str = "pack_id",
) -> DataFrame:
    """Greedy sequence packing: walk each group in ``order_col`` order,
    accumulating ``size_col``; when an item would overflow ``budget``,
    open a new pack (an oversized item gets a pack of its own). The
    classic training-data step that bins documents into fixed context
    windows with deterministic, order-stable assignment.

    Packing is inherently sequential WITHIN a group, so the operator
    parallelizes ACROSS groups via applyInPandas (one Arrow batch per
    group): pick group keys (language, source, date-bucket) so no single
    group dominates — at 100 TB a thousand groups keep every core busy
    and state per task stays O(group). A SQL twin exists only as a
    recursive CTE (see the catalog oracle), which re-joins per row —
    fine for an oracle, wrong at scale."""
    import pandas as pd  # noqa: F401 — applyInPandas contract
    from pyspark.sql.types import IntegerType, StructField, StructType

    # copy the fields — StructType.add mutates in place, and df.schema is
    # the DataFrame's OWN cached schema object
    out_schema = StructType(
        list(df.schema.fields) + [StructField(pack_col, IntegerType(), False)]
    )

    def pack(pdf):
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        ids = []
        acc = 0
        pid = 0
        for s in pdf[size_col]:
            s = int(s)
            if acc > 0 and acc + s > budget:
                pid += 1
                acc = 0
            acc += s
            ids.append(pid)
        pdf[pack_col] = pd.Series(ids, dtype="int32")
        return pdf

    return df.groupBy(*group_cols).applyInPandas(pack, schema=out_schema)


def trigram_udtf():
    """Python UDTF (Spark 4 table-function surface) emitting positional
    word trigrams per document — the lateral-join generator shape
    (one input row → many output rows with local state). For THIS
    computation a pure explode pipeline is faster (stays in codegen;
    equality-tested in tests/); the UDTF form is the template for
    generators that genuinely need Python per-row logic (tokenizers,
    samplers, parsers). ``useArrow=True`` makes evaluation
    Arrow-batched (ArrowEvalPythonUDTF) — the engine-wide no-BatchEval
    rule (tools/plan_report.py gate) applies to UDTFs too."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="idx int, trigram string", useArrow=True)
    class Trigrams:
        def eval(self, text: str):
            if text is None:
                return
            toks = re.split(r"\s+", text.strip())
            for i in range(len(toks) - 2):
                yield i, " ".join(toks[i : i + 3])

    return Trigrams


def repetition_ratio_expr(tokens: Column, n: int = 2) -> Column:
    """Within-document repetition: 1 − distinct/total word n-grams —
    the standard boilerplate/loop-generation quality signal (high ratio
    ⇒ the doc repeats itself). Non-distinct gram list (unlike
    shingles_expr), all JVM-side array algebra. Docs shorter than n
    tokens score 0.0."""
    def grams_of(t: Column) -> Column:
        return F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - n),
                lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def ratio_of(g: Column) -> Column:
        return F.when(
            F.size(g) > 0,
            F.round(
                F.lit(1.0) - F.size(F.array_distinct(g)) / F.size(g), 4
            ),
        ).otherwise(F.lit(0.0))

    # double let-binding: tokens evaluated once (not once per gram), the
    # gram array evaluated once (not once per use in the ratio)
    return let_expr(tokens, lambda t: let_expr(grams_of(t), ratio_of))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Benchmark decontamination: drop corpus docs sharing ANY word
    n-gram with the benchmark/eval set — the overlap rule used to keep
    eval sets out of training corpora. Returns (clean, contaminated_ids).

    Plan shape for 100 TB: the benchmark side is small by construction
    (an eval set), so its distinct gram table broadcasts and the
    corpus-side probe is a map-side semi join — the exploded corpus
    grams never shuffle. The reference has no corpus tooling at all;
    this extends its single-table world per the north star."""
    bench_grams = F.broadcast(
        benchmark.select(
            F.explode(shingles_expr(tokens_expr(text_col), n)).alias("__g")
        ).distinct()
    )
    contaminated = (
        corpus.select(
            F.col(id_col),
            F.explode(shingles_expr(tokens_expr(text_col), n)).alias("__g"),
        )
        .join(bench_grams, "__g", "left_semi")
        .select(id_col)
        .distinct()
    )
    clean = corpus.join(contaminated, id_col, "left_anti")
    return clean, contaminated


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM — the KenLM-style fluency/quality score every corpus
    filter stack carries (low scores → gibberish or off-domain docs).

    Two keyed shuffles: token counts (vocab-sized), then the doc-token ⋈
    vocab join re-keyed on the token. NO broadcast hint on the vocab:
    its cardinality grows with the corpus (the same policy that removed
    the TF-IDF vocabulary hint). At 100 TB the vocab is truncated to
    top-V with an OOV bucket; here the LM is trained on the scored
    corpus itself so every token is in-vocab by construction.

    Cross-engine determinism: ln() comes from different libm
    implementations (Java vs C) that may differ by 1 ulp, so each term
    is quantized to DECIMAL(18,6) — coarse enough that a 1-ulp
    difference at the ~1e-15 scale cannot cross a quantization boundary
    — then summed exactly and averaged (_dsum discipline on a
    transcendental)."""
    toks = df.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("t"))
    scored = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))  # 1-row scalar: broadcast is exact
        .select(
            F.col(id_col),
            F.log(F.col("c") / F.col("t")).cast("decimal(18,6)").alias("lp"),
        )
    )
    # The mean is rounded to 4dp in PURE INTEGER arithmetic: the
    # quantized-lp sum divided by an int count is a 6dp rational that
    # routinely terminates EXACTLY on a rounding half-boundary
    # (−64.0719/18 = −3.55955; −86.581188/24 = −3.6075495 — both caught
    # by the sf1 sweep), where any float path diverges across engines
    # (JVM rounds the binary value, DuckDB the shortest repr; a decimal
    # hop just moves the same boundary to the cast). With s6 = Σlp·10⁶
    # (exact long) and D = n·100, half-away-from-zero at 1e-4 is
    # sign(s6) · ((2·|s6| + D) div (2·D)) / 10⁴ — integer div, bit-
    # identical everywhere (mirrored in every oracle).
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum((F.col("lp") * 1_000_000).cast("long")).alias("_s6"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .select(
            F.col(id_col),
            (
                F.when(F.col("_s6") < 0, -1).otherwise(1)
                * F.expr(
                    "(2 * abs(_s6) + n_tokens * 100)"
                    " div (2 * n_tokens * 100)"
                )
                / F.lit(10_000.0)
            ).alias("mean_logprob"),
            "n_tokens",
        )
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_raw_len: bool = False,
) -> DataFrame:
    """Per-document zlib compression ratio (compressed/raw bytes) — the
    model-free redundancy signal pretraining filters use alongside the
    LM scores: boilerplate and repeated spans compress far below ~0.4,
    high-entropy or natural prose sits higher. zlib is deterministic at
    a fixed level, so the score is reproducible. Runs as an
    Arrow-batched SCALAR pandas UDF (one Python roundtrip per batch,
    never per row) — the documented exception to the JVM-only rule, like
    the multimodal decode stubs; there is no Column-algebra zlib."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    @pandas_udf("double")
    def ratio(s: pd.Series) -> pd.Series:
        import zlib  # noqa: PLC0415

        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return 1.0
            return len(zlib.compress(raw, 6)) / len(raw)

        return s.map(one)

    cols = [F.col(id_col), ratio(F.col(text_col)).alias("compression_ratio")]
    if keep_raw_len:
        # JVM-side in the same select — callers that bound the ratio
        # conditionally on raw length (zlib's ~11-byte header dominates
        # tiny inputs) get it without a join-back shuffle.
        cols.insert(1, F.octet_length(F.col(text_col)).alias("n_raw_bytes"))
    return df.select(*cols)


def _window_hash_expr(t: Column, k: int) -> Column:
    """k-token window hashes for a token array — md5[:15hex]→bigint
    (the engine's cross-engine 60-bit hash idiom), one entry per window
    start 1..n-k+1; empty array when the doc is shorter than k. Shared
    by :func:`duplicated_span_profile` (the diagnostic) and
    :func:`excise_duplicated_spans` (the action), so both certify the
    same window space."""
    return F.when(
        F.size(t) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (k - 1)),
            lambda i: F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice(t, i, k))), 1, 15
                ),
                16,
                10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _window_hashes_sql(text_col: str, k: int) -> str:
    """SQL-string twin of ``let_expr(tokens_expr(text_col), t ->
    _window_hash_expr(t, k))`` — the full tokenize→window-hash tree as
    ONE parseable string (r13-opt: the Column form cost ~0.3 s of
    per-node Py4J round-trips per query construction; identical
    analyzed plan, fingerprint-verified)."""
    body = (
        f"CASE WHEN size(t) >= {k} THEN transform("
        f"sequence(1, size(t) - {k - 1}), "
        f"i -> CAST(conv(substring(md5(concat_ws(' ', slice(t, i, {k}))), "
        f"1, 15), 16, 10) AS BIGINT)) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    return f"transform(array({tokens_sql(text_col)}), t -> {body})[0]"


def excise_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    keep: str = "none",
) -> DataFrame:
    """Span-level dedup — the ACTION behind
    :func:`duplicated_span_profile`'s signal (substring-level
    training-data dedup à la Lee et al.: duplicated long token spans
    degrade LMs even when whole-document passes come back clean).
    Every token covered by a k-token window that occurs ≥ 2 times
    corpus-wide (another doc, or again in the same doc) is excised;
    overlapping/adjacent duplicated windows merge into maximal runs.
    ``keep`` picks the policy: ``"none"`` (default) excises EVERY copy
    — boilerplate removal, nothing survives; ``"first"`` keeps the
    globally first occurrence of each window (ordered by (id, start))
    and excises only the later copies — the Lee-et-al dedup shape,
    where one canonical copy of a legitimate common passage survives.
    Returns one row per input doc: (id, text, n_tokens,
    n_tokens_removed, n_spans_excised) where ``text`` is the kept
    tokens joined by single spaces (whitespace-normalized — untouched
    docs get the same normalization so output text is uniform) and
    ``n_spans_excised`` counts the merged runs. One pass by design:
    excision can create new token adjacencies; iterate to converge,
    as the published substring-dedup pipelines do.

    Shape for 100 TB: the window-hash pass is the diagnostic's (one
    map-only projection + ONE hash-keyed count agg + a join-back that
    reuses the hash partitioning; keep="first" replaces the count agg
    with a per-hash row_number over (id, start) — same shuffle key,
    and a very hot window hash makes a large-but-linear sort
    partition, the price of a deterministic global keep order).
    Duplicated window STARTS are materialized once behind an eager
    localCheckpoint (three consumers — without the barrier the
    scan+hash+count pipeline re-executes per consumer). The expensive
    per-token path (posexplode + per-doc window scan + rebuild) runs
    ONLY over affected docs (left-semi on the dup-doc set — typically
    a small corpus fraction); coverage is a running ``max`` of dup
    starts per doc (token j is covered iff the latest start ≤ j is
    ≥ j-k+1 — exact, linear, no per-token interval probing), so no
    step is quadratic in doc length. Untouched docs take a map-only
    anti-join branch."""
    if keep not in ("none", "first"):
        raise ValueError(f"keep must be 'none' or 'first', got {keep!r}")
    from pyspark.sql import Window  # noqa: PLC0415

    e = df.selectExpr(
        f"`{id_col}`",
        f"posexplode({_window_hashes_sql(text_col, k)}) AS (p, h)",
    ).select(id_col, (F.col("p") + 1).alias("s"), "h")
    if keep == "first":
        w_h = Window.partitionBy("h").orderBy(id_col, "s")
        marked_dups = e.withColumn(
            "rk", F.row_number().over(w_h)
        ).filter(F.col("rk") >= 2)
    else:
        # groupBy+join-back, NOT count-over-window (r14 revert of the
        # r13 rewrite): the window form avoids the second evaluation of
        # the md5 window-hash pipeline, but it replaces a partial-agg +
        # (broadcastable) join with a full Exchange+Sort on h, lost
        # −43% on the driver bench (PERF_r13: 1.321→2.316 s), and at
        # 100 TB a hot boilerplate span lands entirely in ONE window
        # partition with no remedy — AQE skew-join splitting applies to
        # joins only, never to windows (guide §2.5), so the join form
        # is also the safe shape at scale. Map-side partial aggregation
        # shrinks the counts shuffle to one row per distinct hash.
        counts = e.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
        marked_dups = e.join(counts, "h").filter(F.col("cnt") >= 2)
    dup_starts = marked_dups.select(id_col, "s").localCheckpoint(eager=True)
    dup_docs = dup_starts.select(id_col).distinct()

    # affected branch: per-token rows, running-max coverage, rebuild
    tok = (
        df.join(dup_docs, id_col, "left_semi")
        .select(
            F.col(id_col),
            F.posexplode(tokens_expr(text_col)).alias("p", "tokn"),
        )
        .select(id_col, (F.col("p") + 1).alias("j"), "tokn")
        .alias("tk")
    )
    ds = dup_starts.alias("ds")
    marked = tok.join(
        ds,
        (F.col(f"tk.{id_col}") == F.col(f"ds.{id_col}"))
        & (F.col("tk.j") == F.col("ds.s")),
        "left",
    ).select(
        F.col(f"tk.{id_col}").alias(id_col),
        F.col("tk.j").alias("j"),
        F.col("tk.tokn").alias("tokn"),
        F.col("ds.s").alias("s"),
    )
    win = Window.partitionBy(id_col).orderBy("j")
    cum = win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m = (
        marked.withColumn("ls", F.max("s").over(cum))
        .withColumn(
            "cov",
            F.col("ls").isNotNull()
            & ((F.col("j") - F.col("ls")) <= F.lit(k - 1)),
        )
        .withColumn("pcov", F.lag("cov").over(win))
    )
    run_start = F.col("cov") & (F.col("pcov").isNull() | ~F.col("pcov"))
    affected = m.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("cov"), F.struct(F.col("j"), F.col("tokn")))
                    )
                ),
                lambda x: x["tokn"],
            ),
            " ",
        ).alias("text"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.col("cov").cast("int")).cast("long").alias("n_tokens_removed"),
        F.sum(run_start.cast("int")).cast("long").alias("n_spans_excised"),
    )

    untouched = (
        df.join(dup_docs, id_col, "left_anti")
        .selectExpr(
            f"`{id_col}`",
            f"transform(array({tokens_sql(text_col)}), w -> struct("
            f"array_join(w, ' ') AS text, "
            f"CAST(size(w) AS BIGINT) AS n_tokens))[0] AS st",
        )
        .select(
            id_col,
            "st.text",
            "st.n_tokens",
            F.lit(0).cast("long").alias("n_tokens_removed"),
            F.lit(0).cast("long").alias("n_spans_excised"),
        )
    )
    return affected.unionByName(untouched)


def excise_duplicated_spans_to_fixpoint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    keep: str = "none",
    max_rounds: int = 8,
) -> DataFrame:
    """CONVERGED span-level dedup: iterate
    :func:`excise_duplicated_spans` until a pass removes nothing
    corpus-wide (or ``max_rounds``). A single pass is not a fixpoint —
    excision joins previously-distant tokens, and when two docs with
    DIFFERENT duplicated interiors share their flanks, the round-1
    excisions leave identical joined sequences that only round 2 can
    see (the published substring-dedup pipelines iterate for exactly
    this reason; the single-pass docstring names it the caller's job —
    this is that caller, packaged).

    Output schema matches the single pass: one row per input doc with
    ``text`` the converged cleaned text, ``n_tokens`` the ORIGINAL
    token count, and ``n_tokens_removed`` / ``n_spans_excised``
    summed across rounds.

    Scale shape: each round is the audited single-pass plan (one hash
    agg + partitioning-reusing join-back; heavy path left-semi'd to
    affected docs); the driver loop adds one bounded 1-row collect per
    round for the stop test, and rounds are few by construction — each
    round must remove at least one whole k-window from some doc, and
    in practice the chain stops at 2-3 (the connected_components
    pattern: bounded driver rounds over checkpointed frames, no plan
    growth because every round's result is eagerly checkpointed)."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    cur = df.select(F.col(id_col), F.col(text_col).alias("text"))
    total = None
    for _ in range(max_rounds):
        res = excise_duplicated_spans(
            cur, "text", id_col, k, keep
        ).localCheckpoint(eager=True)
        if total is None:
            total = res
        else:
            nxt = res.select(
                F.col(id_col),
                F.col("text").alias("_t"),
                F.col("n_tokens_removed").alias("_r"),
                F.col("n_spans_excised").alias("_s"),
            )
            total = (
                total.drop("text")
                .join(nxt, id_col)
                .select(
                    F.col(id_col),
                    F.col("_t").alias("text"),
                    F.col("n_tokens"),
                    (F.col("n_tokens_removed") + F.col("_r")).alias(
                        "n_tokens_removed"
                    ),
                    (F.col("n_spans_excised") + F.col("_s")).alias(
                        "n_spans_excised"
                    ),
                )
                .localCheckpoint(eager=True)
            )
        removed = res.agg(F.sum("n_tokens_removed")).first()[0]
        if not removed:
            break
        cur = res.select(F.col(id_col), "text")
    return total


def bpe_learn_merges(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    lowercase: bool = True,
) -> DataFrame:
    """Corpus-level BPE merge learning (the tokenizer-TRAINING
    primitive; the catalog's BPE-ish regex op only counts tokens):
    word-level byte-pair encoding à la Sennrich et al. — words split
    to character symbols, then k rounds of (count adjacent symbol
    pairs weighted by word frequency → merge the most frequent pair
    corpus-wide). Returns one row per round: (round, left_sym,
    right_sym, pair_count, n_symbols_after), where n_symbols_after is
    the frequency-weighted total symbol count after applying that
    round's merge — certifying the merge APPLICATION, not just the
    argmax. Ties break on (count DESC, left ASC, right ASC) so the
    learned merges are deterministic cross-engine.

    Scale shape: ONE corpus-scale stage (the word-frequency hash agg);
    every round after that runs on the DISTINCT-WORD vocabulary —
    bounded and tiny relative to the corpus, which is exactly how real
    BPE trainers scale. The merge fold is a greedy left-to-right
    string aggregate over each word's symbol string (symbols never
    contain spaces, so `acc ends with ' '+left` is an exact
    previous-symbol test — the same fold replayed by DuckDB
    list_reduce); the vocab frame is eagerly localCheckpoint-ed per
    round because stacking k interpreted folds would otherwise be
    CollapseProject-inlined into every consumer (the measured O(len²)
    trap, see let_expr). The winner/total collects are k bounded
    1-row driver reads — the merge table IS driver-sized."""
    spark = df.sparkSession
    cur = _bpe_symbol_vocab(df, text_col, lowercase)
    rows = []
    for rnd in range(1, k + 1):
        win = (
            _bpe_adjacent_pair_counts(cur)
            .orderBy(F.desc("pc"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not win:  # vocabulary fully merged before k rounds
            break
        a, b, pc = win[0].a, win[0].b, int(win[0].pc)
        cur, total = _bpe_apply_merge(cur, a, b)
        rows.append((rnd, a, b, pc, int(total)))
    return spark.createDataFrame(rows, _BPE_MERGES_SCHEMA)


_BPE_MERGES_SCHEMA = (
    "round INT, left_sym STRING, right_sym STRING, "
    "pair_count BIGINT, n_symbols_after BIGINT"
)


def _bpe_word_counts(
    df: DataFrame, text_col: str, lowercase: bool
) -> DataFrame:
    """(w, cnt) frequency-weighted distinct-word counts — the ONE
    corpus-scale stage every BPE training path shares (distributed
    rounds and the driver-local trainer both start here)."""
    return (
        df.select(F.explode(tokens_expr(text_col, lowercase)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _bpe_symbol_vocab(
    df: DataFrame, text_col: str, lowercase: bool
) -> DataFrame:
    """(w, cnt, sym) over the distinct-word vocabulary; everything
    after runs on this bounded frame."""
    return _bpe_word_counts(df, text_col, lowercase).withColumn(
        "sym", F.trim(F.regexp_replace("w", "(.)", "$1 "))
    ).localCheckpoint(eager=True)


def _bpe_pair_structs(arr: Column) -> Column:
    """Adjacent-symbol (a, b) struct array over a split symbol array —
    THE pair-shape definition, shared by the full count, the signed
    delta expansion, and (conceptually) the local trainer's zip; any
    change to what counts as an adjacent pair must happen here once,
    or the maintained counts would silently diverge from a recount."""
    return F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.struct(
                F.element_at(arr, i).alias("a"),
                F.element_at(arr, i + 1).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


def _bpe_adjacent_pair_counts(frame: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-symbol pair counts over a
    (cnt, sym) vocab frame — the expensive per-round BPE stage."""
    prs = _bpe_pair_structs(F.split("sym", " "))
    return (
        frame.select("cnt", F.explode(prs).alias("pr"))
        .groupBy("pr.a", "pr.b")
        .agg(F.sum("cnt").cast("long").alias("pc"))
    )


def _bpe_apply_merge(cur: DataFrame, a: str, b: str):
    """Apply one merge to the vocab frame (checkpointed — interpreted
    folds must never stack, see let_expr) and return (frame, weighted
    total symbol count)."""
    cur = cur.select(
        "w", "cnt", _bpe_merge_fold(F.split("sym", " "), a, b).alias("sym")
    ).localCheckpoint(eager=True)
    total = cur.agg(
        F.sum(F.col("cnt") * F.size(F.split("sym", " "))).cast("long")
    ).first()[0]
    return cur, int(total)


def bpe_learn_merges_batched(
    df: DataFrame,
    text_col: str = "text",
    k: int = 6,
    m: int = 16,
    lowercase: bool = True,
    candidate_pool: int = 64,
    _words: DataFrame | None = None,
) -> DataFrame:
    """BPE merge learning with BATCHED merge selection — identical
    output to :func:`bpe_learn_merges` (proof below), but up to ``m``
    merges are taken per pair-count round, cutting the expensive
    corpus-vocab pair-count stages from k to ~k/m. This is the scale
    answer to the sequential trainer's k-driver-round bottleneck: a
    real tokenizer needs 10k-50k merges, and the count stage — not
    the data size — dominates once every round is a separate job.
    (The per-merge ``n_symbols_after`` totals are bounded vocab sums
    kept for the certification contract; a production run learning
    50k merges would drop them — they are output, not input, of the
    algorithm.)

    Sequential-equivalence proof sketch. Per round, collect the top
    ``candidate_pool`` pairs in the exact sequential order
    (pc DESC, a, b) and accept a PREFIX of it as the batch, stopping
    at the first candidate that (i) shares a left/right symbol with
    an accepted merge, or (ii) contains an accepted merge's
    concatenated symbol (as a slot or as its own concat), or (iii) is
    position t ≥ 2 with pc ≤ 4·pc_break, where pc_break is the pc of
    the first non-accepted candidate (0 when the pair list was
    exhausted). Every non-accepted pair has pc ≤ pc_break (the pool
    is sorted and acceptance is a prefix).
    Then, for each accepted merge at batch position t:
    - its own pair count is INVARIANT under the earlier accepted
      merges — (i) means none of its adjacencies are consumed, (ii)
      means none are created, so the stale count equals the
      sequential recount;
    - every competitor in the sequential recount either kept its
      count and name (ranked below the prefix → loses the original
      (pc, a, b) comparison verbatim), or was created/boosted by the
      earlier t−1 merges. A boosted/created pair (u, w) must hold a
      NEW token ``a_j+b_j`` in at least one slot — where "new token"
      includes a PRE-EXISTING vocabulary symbol whose string equals
      an applied merge's concat (r12, ADVICE r11: the r11 bound
      missed this collision class; guard ii only inspects pool
      candidates, so a live symbol colliding with a concat is not
      excluded and the competitor may ALSO have a nonzero pre-count).
      Created occurrences then arrive through at most THREE channels:
      (new_u, old w) — each consumes a distinct pre-merge
      (b_i, w) adjacency; (old u, new_w) — consumes (u, a_j); and
      (new_u, new_w) — consumes (b_i, a_j). Each consumed pair is
      non-accepted (it shares a symbol with an accepted merge, so
      guard i would have ended the batch had it been accepted), hence
      each channel contributes ≤ pc_break. The competitor's PRE-count
      is ≤ pc_break too: were it ranked above the break it would be a
      pool candidate whose slot or concat collides with an accepted
      concat, ending the batch at guard ii before j. Recount
      ≤ (1 + 3)·pc_break = 4·pc_break < pc (guard iii) — the accepted
      merge still wins its round strictly.
    Whenever a guard fails the batch just ends early (worst case
    size 1 = plain sequential), so output equality holds on EVERY
    corpus, not just benign ones — certified against the sequential
    6- and 12-round unrolled oracles and property-tested against
    bpe_learn_merges (including a concat-collision corpus, r12).

    DELTA pair-count maintenance (r9, VERDICT r8 #5): the corpus-vocab
    pair counts are computed in FULL exactly once; after each applied
    merge they are UPDATED from only the words the merge touched
    (a word changes iff its symbol string contains the adjacency
    ``a b`` — exact: the fold merges the first such occurrence and
    merges can neither be pre-empted by, nor created from, other
    symbols within one application). Per merge the engine folds the
    affected words only and folds their pair-count delta (after −
    before) into the maintained counts — O(affected + |pair vocab|)
    per round instead of re-exploding every symbol of every vocab
    word. That removes the full-recount-per-round ceiling that kept
    effective merge counts near k≈6: real-text top pairs share
    symbols constantly (batches stay small), so cheap rounds — not
    wide batches — are what makes 10k+ merges reachable. The pool
    read from the maintained counts is bit-identical to a recount,
    so the sequential-equivalence proof above is untouched.

    Round-structure floor (r10, VERDICT r9 #3): each round is now ONE
    Spark job — the bounded pool collect — down from r9's 6 (2
    collects + 4 eager materializations). The fold, the old-symbol
    retention, and the next round's vocab are one projection; it and
    the maintained counts are LAZY localCheckpoints (the plan barrier
    that keeps interpreted folds from stacking is installed
    immediately; materialization piggybacks on the next pool
    collect). No per-round vocab union, so partition counts stay
    constant without the r9 coalesce repair. The per-merge event
    counts — output bookkeeping for ``n_symbols_after``, never
    control flow — are DEFERRED: each round contributes a tiny tagged
    aggregate frame over its own checkpoint, all collected in one job
    after the loop."""
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    spark = df.sparkSession
    # _words: a pre-computed (w, cnt) vocabulary (the local trainer's
    # oversized-vocab fallback hands over its min_count-pruned frame,
    # so the two paths keep identical semantics; r12)
    if _words is not None:
        cur = _words.withColumn(
            "sym", F.trim(F.regexp_replace("w", "(.)", "$1 "))
        ).localCheckpoint(eager=True)
    else:
        cur = _bpe_symbol_vocab(df, text_col, lowercase)
    pcs = _bpe_adjacent_pair_counts(cur).localCheckpoint(eager=True)
    total = int(
        cur.agg(
            F.sum(F.col("cnt") * F.size(F.split("sym", " "))).cast("long")
        ).first()[0]
        or 0
    )
    picked = []  # (round_id, candidate Row) in merge order
    ev_frames = []  # per-round deferred event aggregates
    rnd = 0
    while len(picked) < k:
        pool = (
            pcs.orderBy(F.desc("pc"), F.asc("a"), F.asc("b"))
            .limit(candidate_pool)
            .collect()
        )
        if not pool:
            break
        exhausted = len(pool) < candidate_pool
        accepted = [pool[0]]
        for cand in pool[1:]:
            if len(accepted) >= m:
                break
            syms = {s for c in accepted for s in (c.a, c.b)}
            merged = {c.a + c.b for c in accepted}
            # the (a+b) checks close the string-collision pathologies
            # that would break ONE-PASS batch application: a concat
            # equal to an accepted symbol could chain inside the
            # simultaneous fold (sequential application cannot), and
            # two merges with the same concat would conflate the
            # per-merge event counts. Ending the batch early is always
            # safe (worst case = sequential).
            if {cand.a, cand.b} & (syms | merged) or (
                cand.a + cand.b
            ) in (syms | merged):
                break
            accepted.append(cand)
        if len(pool) > len(accepted):
            pc_break = int(pool[len(accepted)].pc)
        elif not exhausted:
            pc_break = int(pool[-1].pc)
        else:
            pc_break = 0
        batch = [accepted[0]]
        for t, cand in enumerate(accepted[1:], start=2):
            # constant 4·pc_break (r12, ADVICE r11): pre-count +
            # three creation channels — see the proof sketch above.
            # min(t,3) undercounted when a merge's concat collides
            # with a LIVE vocab symbol (positions t >= 4 accepted at
            # pc > 3·pc_break could then lose their sequential round).
            if int(cand.pc) > 4 * pc_break:
                batch.append(cand)
            else:
                break
        batch = batch[: k - len(picked)]
        cur, pcs, ev = _bpe_apply_batch_delta(cur, pcs, batch, rnd)
        ev_frames.append(ev)
        picked.extend((rnd, cand) for cand in batch)
        rnd += 1
    # ONE deferred collect recovers every round's per-merge event
    # counts (each frame reads its own round's checkpoint, so the
    # union plan stays shallow); totals then replay in merge order.
    # Events are output bookkeeping for n_symbols_after, never control
    # flow, so deferring them off the round path is free.
    events: dict[tuple[int, str], int] = {}
    if ev_frames:
        allev = ev_frames[0]
        for f in ev_frames[1:]:
            allev = allev.unionByName(f)
        events = {(r.rnd, r.t): int(r.ev) for r in allev.collect()}
    rows, run = [], total
    for i, (r_id, cand) in enumerate(picked, start=1):
        run -= events.get((r_id, cand.a + cand.b), 0)
        rows.append((i, cand.a, cand.b, int(cand.pc), run))
    return spark.createDataFrame(rows, _BPE_MERGES_SCHEMA)


def bpe_learn_merges_local(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    lowercase: bool = True,
    min_count: int = 1,
    max_vocab_rows: int = 50_000_000,
) -> DataFrame:
    """BPE merge learning with DRIVER-LOCAL rounds — bit-identical
    output to :func:`bpe_learn_merges` (same greedy fold, same
    (count DESC, left ASC, right ASC) argmax; property-tested and
    certified against the same sequential unrolled oracle), built for
    PRODUCTION merge counts (r11, the answer to the standing
    round-count weak): the corpus-scale work is ONE Spark job (the
    frequency-weighted distinct-word count — the identical first
    stage every path shares), after which the merge loop runs on the
    driver over the bounded word-count vocabulary with incrementally
    maintained pair counts and a lazy-invalidation heap — the classic
    in-memory trainer (Sennrich's learn_bpe, SentencePiece's BPE mode
    work exactly this way). Per-round cost is microseconds instead of
    a Spark scheduling wave: the distributed trainer's floor is
    ~0.5 s/round of pure stage latency at ANY data size (measured —
    AQE materializes each exchange as its own job), which priced a
    50k-merge tokenizer at ~7 hours; this path prices it at minutes,
    dominated by the one corpus scan.

    Memory contract (ENFORCED, r12 — VERDICT r11 #6 replaced the
    docstring-only advice with a guard): the driver holds the
    DISTINCT-WORD vocabulary (word, count, symbol list) — tens of
    millions of entries at web scale, i.e. single-node-RAM-sized,
    which is why every production tokenizer trainer makes the same
    split. ``min_count`` prunes hapax words first (the standard
    vocabulary cap); the pruned vocab is then COUNTED before anything
    is collected, and a vocab above ``max_vocab_rows`` automatically
    falls back to :func:`bpe_learn_merges_batched` (distributed
    rounds, identical output by the batch-equivalence proof) instead
    of OOMing the driver or asking the caller to know better. The
    default 50M rows ≈ a few GB of driver heap at typical word
    lengths; the count is one column-pruned aggregate over the
    already-computed word frame — noise next to the corpus scan."""
    import heapq  # noqa: PLC0415

    spark = df.sparkSession
    words_df = _bpe_word_counts(df, text_col, lowercase)
    if min_count > 1:
        words_df = words_df.filter(F.col("cnt") >= min_count)
    words_df = words_df.localCheckpoint(eager=True)
    n_vocab = words_df.count()
    if n_vocab > max_vocab_rows:
        return bpe_learn_merges_batched(
            df, text_col=text_col, k=k, lowercase=lowercase,
            _words=words_df,
        )
    collected = words_df.collect()
    syms = [list(r.w) for r in collected]
    cnts = [int(r.cnt) for r in collected]

    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for i, s in enumerate(syms):
        c = cnts[i]
        for p in zip(s, s[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + c
            pair_words.setdefault(p, set()).add(i)
    total = sum(len(s) * c for s, c in zip(syms, cnts))
    # lazy-invalidation heap: every count update pushes a fresh entry;
    # stale entries are discarded at pop time by re-checking the live
    # count — the standard amortized-O(log n)-per-update argmax
    heap = [(-pc, a, b) for (a, b), pc in pair_counts.items()]
    heapq.heapify(heap)

    def bump(p: tuple[str, str], delta: int) -> None:
        pc = pair_counts.get(p, 0) + delta
        pair_counts[p] = pc
        if pc > 0:
            heapq.heappush(heap, (-pc, p[0], p[1]))

    rows = []
    for rnd in range(1, k + 1):
        best = None
        while heap:
            npc, a, b = heap[0]
            if pair_counts.get((a, b), 0) == -npc and -npc > 0:
                best = (a, b, -npc)
                break
            heapq.heappop(heap)  # stale or drained entry
        if best is None:
            break
        a, b, pc = best
        merged = a + b
        events = 0
        # affected = words containing the adjacency (pair_words is a
        # superset under staleness; the fold is a no-op on stale hits)
        for i in sorted(pair_words.get((a, b), ())):
            s = syms[i]
            c = cnts[i]
            out: list[str] = []
            hit = False
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = merged
                    hit = True
                else:
                    out.append(x)
            if not hit:
                continue
            for p in zip(s, s[1:]):
                bump(p, -c)
            for p in zip(out, out[1:]):
                bump(p, c)
                pair_words.setdefault(p, set()).add(i)
            events += (len(s) - len(out)) * c
            syms[i] = out
        pair_words.pop((a, b), None)
        pair_counts.pop((a, b), None)
        total -= events
        rows.append((rnd, a, b, pc, total))
    return spark.createDataFrame(rows, _BPE_MERGES_SCHEMA)


def _bpe_apply_batch_delta(
    cur: DataFrame, pcs: DataFrame, batch, rnd: int
):
    """Apply a WHOLE accepted batch of mutually-non-interfering merges
    in ONE fold pass while MAINTAINING the pair counts — the per-round
    cost is independent of batch size, and (r10) the round adds ZERO
    eager jobs: one fused projection computes the fold AND retains the
    pre-merge symbols of affected words (``_old``, null for untouched
    words), the counts update consumes a SIGNED union of the old
    (negative) and new (positive) affected symbols so the pair-count
    delta is a single aggregation, and both frames are lazy
    localCheckpoints materialized by the caller's next pool collect.
    r9 paid four eager materializations + an event collect per round;
    the vocab rebuild is now a thin column drop over the fused
    checkpoint, which also keeps partition counts constant (no
    per-round union, so no coalesce repair needed).

    Why one pass equals sequential application of the batch: batch
    members share no symbols (guard i), no member's symbol equals
    another's concatenation in either direction (guard ii + the r9
    concat-collision guard), so (1) at most one branch of the combined
    fold can trigger at any position (triggers need x == b_j — the b's
    are distinct), (2) a merge can neither consume another's trigger
    symbols nor produce a token that triggers another (outputs differ
    from every a_j/b_j), and (3) merging never makes two non-adjacent
    tokens adjacent, so no new cross-merge opportunities appear that a
    later sequential pass would have seen. Property-tested equal to the
    sequential trainer at k=12.

    Pair counts update from only the affected words (a word changes
    iff it contains some batch adjacency " a b " — exact, see
    bpe_learn_merges_batched). Per-merge n_symbols_after totals are
    recovered from per-merge EVENT counts: each event of merge j
    creates exactly one (a_j+b_j) token and no batch merge destroys
    one, so events_j = weighted occurrences of that token after −
    before over the affected slice (the subtraction handles vocab
    symbols that happen to equal a concatenation). The event frame is
    returned LAZY, tagged with this round's id — the caller collects
    every round's events in one deferred job. Returns
    (cur, pcs, ev) where ev has schema (rnd, t, ev)."""
    merges = [(c.a, c.b) for c in batch]
    spaced = F.concat(F.lit(" "), F.col("sym"), F.lit(" "))
    hit = spaced.contains(f" {merges[0][0]} {merges[0][1]} ")
    for a, b in merges[1:]:
        hit = hit | spaced.contains(f" {a} {b} ")
    folded = _bpe_merge_fold_multi(F.split("sym", " "), merges)
    # the fused projection: the interpreted fold runs ONCE per affected
    # word (the when() gates it row-wise), untouched words pass their
    # symbols through, and the pre-merge symbols survive as _old for
    # the counts delta and event frames below. LAZY checkpoint: the
    # plan barrier (LogicalRDD — folds never stack into consumers) is
    # installed immediately, but materialization piggybacks on the
    # next round's pool collect, so the whole round is ONE Spark job.
    cur2 = cur.select(
        "w",
        "cnt",
        F.when(hit, F.col("sym")).alias("_old"),
        F.when(hit, folded).otherwise(F.col("sym")).alias("sym"),
    ).localCheckpoint(eager=False)
    changed = cur2.filter(F.col("_old").isNotNull())
    toks = [a + b for a, b in merges]
    # old (negative) and new (positive) symbol strings of affected
    # words, signed — ONE pair-count aggregation yields the count
    # DELTA directly (sum of signed weights), and the same signed
    # frame drives the event counts. Lazily checkpointed at DELTA
    # scale (ADVICE r10): the deferred event frames otherwise pin
    # every round's FULL-vocab cur2 checkpoint until the post-loop
    # collect — O(rounds × vocab) executor storage; through this
    # barrier they pin only the changed slice, and each round's cur2
    # storage is released when the next round rebinds it.
    signed = (
        changed.select(
            (-F.col("cnt")).alias("cnt"), F.col("_old").alias("sym")
        )
        .unionByName(changed.select("cnt", "sym"))
        .localCheckpoint(eager=False)
    )
    ev = (
        signed.select(F.col("cnt").alias("s"), "sym")
        .select("s", F.explode(F.split("sym", " ")).alias("t"))
        .filter(F.col("t").isin(toks))
        .groupBy("t")
        .agg(F.sum("s").cast("long").alias("ev"))
        .select(F.lit(rnd).alias("rnd"), "t", "ev")
    )
    # ONE shuffle for the maintained-counts update (r11): the signed
    # per-occurrence pair rows union straight into the stored counts
    # and a single groupBy folds both — the previous
    # pre-aggregate-then-merge shape paid two chained exchanges per
    # round for a frame that is delta-sized anyway. The pair shape is
    # the SHARED _bpe_pair_structs definition (bit-identity with the
    # full recount is what the sequential-equivalence proof rests on).
    prs = _bpe_pair_structs(F.split("sym", " "))
    raw_delta = signed.select(
        F.col("cnt").alias("pc"), F.explode(prs).alias("pr")
    ).select("pr.a", "pr.b", F.col("pc").cast("long").alias("pc"))
    pcs = (
        pcs.unionByName(raw_delta)
        .groupBy("a", "b")
        .agg(F.sum("pc").cast("long").alias("pc"))
        .filter(F.col("pc") > 0)
        .localCheckpoint(eager=False)
    )
    return cur2.drop("_old"), pcs, ev


def _bpe_merge_fold_multi(arr: Column, merges) -> Column:
    """One greedy left-to-right pass applying ALL merges of a
    non-interfering batch simultaneously (see _bpe_apply_batch_delta
    for why this equals sequential application). At most one branch
    can trigger per step — the b symbols are pairwise distinct — so
    branch order is immaterial; with one merge this IS
    :func:`_bpe_merge_fold`."""

    def step(acc, x):
        expr = F.when(acc == "", x).otherwise(F.concat(acc, F.lit(" "), x))
        for a, b in reversed(merges):
            expr = F.when(
                ((acc == a) | acc.endswith(" " + a)) & (x == b),
                F.concat(
                    F.substring(acc, 1, F.length(acc) - len(a)),
                    F.lit(a + b),
                ),
            ).otherwise(expr)
        return expr

    return F.aggregate(arr, F.lit(""), step)


def _bpe_merge_fold(arr: Column, a: str, b: str) -> Column:
    """Greedy left-to-right application of ONE BPE merge (a, b) to a
    symbol array: the shared fold between learning and segmentation
    (symbols never contain spaces, so `acc ends with ' '+a` is an
    exact previous-symbol test; the empty accumulator can never
    merge, which is what makes DuckDB's init-less list_reduce replay
    it exactly)."""
    merged = a + b
    return F.aggregate(
        arr,
        F.lit(""),
        lambda acc, x: F.when(
            ((acc == a) | acc.endswith(" " + a)) & (x == b),
            F.concat(
                F.substring(acc, 1, F.length(acc) - len(a)), F.lit(merged)
            ),
        ).otherwise(
            F.when(acc == "", x).otherwise(F.concat(acc, F.lit(" "), x))
        ),
    )


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Apply a learned BPE merge table (:func:`bpe_learn_merges`) to a
    corpus: per doc, (id, n_tokens_ws, n_tokens_bpe) — whitespace
    token count vs symbol count under the learned vocabulary. The
    merge folds run over the DISTINCT-WORD vocabulary only (eagerly
    checkpointed per merge so interpreted folds never stack), then a
    word-keyed join back to the exploded corpus — vocab is bounded, so
    AQE broadcasts it and the join is map-only at scale."""
    tok = df.select(
        F.col(id_col), F.explode(tokens_expr(text_col, lowercase)).alias("w")
    )
    vocab = (
        tok.select("w")
        .distinct()
        .withColumn("sym", F.trim(F.regexp_replace("w", "(.)", "$1 ")))
        .localCheckpoint(eager=True)
    )
    for a, b in merges:
        vocab = vocab.select(
            "w", _bpe_merge_fold(F.split("sym", " "), a, b).alias("sym")
        ).localCheckpoint(eager=True)
    vocab = vocab.select("w", F.size(F.split("sym", " ")).alias("n_sym"))
    return (
        tok.join(vocab, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens_ws"),
            F.sum("n_sym").cast("long").alias("n_tokens_bpe"),
        )
    )


def duplicated_span_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Exact substring-duplication diagnostic per document — the signal
    behind span-level training-data dedup (duplicate long token spans
    degrade LMs even when whole-document dedup passes): for every
    k-token window of every doc, is that exact window present anywhere
    ELSE in the corpus (another doc, or again in the same doc)?
    Returns one row per doc with ≥ 1 window: (id, n_spans,
    n_dup_spans, dup_fraction) — a doc with dup_fraction 0.9 is mostly
    boilerplate even if no single whole-doc near-dup match exists.

    Shape for 100 TB: one map-only pass builds the window hashes
    (md5[:15hex]→bigint, the engine's cross-engine hash idiom; the
    token array is referenced once via a single explode, so the split
    is never CollapseProject-duplicated), then ONE hash-keyed count agg
    (map-side partial aggregation — one row per distinct hash crosses
    the wire) and a join-back that reuses the same hash partitioning,
    then the per-doc rollup. Window multiplicity is kept (NOT
    array_distinct): a doc repeating its own 8-gram twice has a
    duplicated span. Windows hash to 60-bit values — at 2^30 windows
    the collision-born false dup rate is ~2^-30·n, negligible against
    real boilerplate rates. n_spans falls out of the join-back row
    count (every hash matches its own count). r14 note: the r13
    count-over-window form (one evaluation of the hash pipeline, but a
    full Exchange+Sort on h) lost on the driver bench and concentrates
    any hot boilerplate hash in one un-splittable window partition at
    scale — AQE skew handling covers joins only (guide §2.5) — so the
    agg+join-back shape is kept deliberately."""

    e = df.selectExpr(
        f"`{id_col}`",
        f"explode({_window_hashes_sql(text_col, k)}) AS h",
    )
    counts = e.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        e.join(counts, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("cnt") >= 2, 1).otherwise(0)).alias(
                "n_dup_spans"
            ),
        )
        .select(
            F.col(id_col),
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
            F.round(
                F.col("n_dup_spans") / F.col("n_spans").cast("double"), 4
            ).alias("dup_fraction"),
        )
    )
