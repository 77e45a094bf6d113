"""BM25 ranked document retrieval — the text-side twin of vector kNN.

The reference engine serves top-k by embedding distance only; a
training-data / corpus engine also needs lexical ranked retrieval (the
standard hybrid-search second leg). This is Okapi BM25 (Robertson &
Zaragoza 2009, the Lucene-default `+1` idf form so idf stays positive
even for terms in more than half the corpus) expressed as one
declarative Spark plan, with the same engine-stable numeric discipline
as the rest of the catalog (catalog._qsum: per-term contributions are
floor-quantized to 1e-6 and summed exactly in decimal, so the score —
and therefore the ranking — is independent of aggregation order and
identical in the DuckDB oracle).

Plan shape at 100 TB:
- ONE streaming pass over the corpus: tokenize → explode → filter to
  the query vocabulary *before* any shuffle, so only matching
  (doc_id, term) tokens ever leave the scan stage (Catalyst compiles
  the literal IN-list to a hash InSet; the explode is pipeline-local,
  nothing corpus-sized materializes).
- Per-term document frequencies come from the SAME pruned frame
  (df(t) only counts docs containing t, which are exactly the rows
  that survive the filter); the df aggregate is |Q| rows, broadcast
  back into the scoring join.
- Corpus stats (N, avgdl) are a one-row partial aggregate of the scan.
- The only O(matched docs) shuffle is the per-(doc, term) tf groupBy;
  the final top-k is a TakeOrderedAndProject (per-partition heap, no
  global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from distributedvectordatabase_spark.functions import text as T

__all__ = [
    "bm25_topk",
    "bm25_topk_batch",
    "rrf_fuse",
    "hybrid_topk",
    "hybrid_topk_batch",
]


def _qz6(c):
    """Engine-stable 1e-6 quantization (catalog._qz twin)."""
    m = F.lit(1e6)
    return F.floor(c * m + F.lit(0.5)) / m


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents by BM25 score for a bag-of-terms query.

    Returns (id_col, score double, rnk int), rnk 1..k ordered by
    (score desc, id asc). Documents matching no query term never enter
    the ranking (their score is 0 and BM25 retrieval drops them).

    ``terms`` are matched exactly against the whitespace tokens of
    ``text_col`` (the shared tokenizer of the dedup/decontam family);
    duplicate query terms are deduplicated — BM25's standard bag form
    weights a repeated query term once.
    """
    if not terms:
        raise ValueError("bm25_topk requires at least one query term")
    terms = sorted(set(terms))
    k = max(int(k), 1)

    toks = F.expr(T.tokens(text_col, T.SPARK))
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))

    # one-row corpus stats: N and avgdl (exact: integer sum / count)
    stats = base.agg(
        F.count("*").alias("n_docs"), F.sum(F.size("toks")).alias("total_len")
    )

    # pruned postings: explode, keep query terms only (InSet literal
    # filter runs inside the scan stage), then per-(doc, term) tf and
    # per-doc length
    postings = (
        base.select("doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )

    # df per query term from the aggregated tf frame — it has exactly
    # one row per (doc, term), so count(*) per term IS the document
    # frequency, and reusing the post-shuffle frame avoids a second
    # corpus scan
    df_t = postings.groupBy("term").agg(F.count("*").alias("df"))

    scored = (
        postings.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            ),
        )
        .withColumn("avgdl", F.col("total_len").cast("double") / F.col("n_docs"))
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
        # order-independent score: quantize each term contribution,
        # sum exactly in decimal (catalog._qsum discipline) — the score
        # is then bit-identical regardless of partial-agg order and
        # across engines
        .groupBy("doc_id")
        .agg(F.sum(_qz6(F.col("contrib")).cast("decimal(38,6)")).alias("score_dec"))
    )

    return (
        scored
        # decimal -> double via the exact integer route (catalog._dq):
        # scale, floor (exact in decimal), cast bigint, one IEEE divide
        .withColumn(
            "score",
            F.expr(
                "cast(floor(score_dec * 1000000 + 0.5) as bigint)"
                " / cast(1000000 as double)"
            ),
        )
        # TakeOrderedAndProject (per-partition heap + driver merge, no
        # global sort); the rnk window then runs over <= k rows
        .orderBy(F.col("score_dec").desc(), F.col("doc_id"))
        .limit(k)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("score_dec").desc(), F.col("doc_id"))
            ),
        )
        .select("doc_id", "score", "rnk")
    )


def bm25_topk_batch(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "qid",
    terms_col: str = "terms",
) -> DataFrame:
    """BM25 top-k for a TABLE of term queries — search serving as one
    batch job. ``queries`` carries (qid, terms array<string>); returns
    (qid, id_col, score, rnk), rnk 1..k per qid by (score desc, id).
    Row-identical per query to :func:`bm25_topk` (pinned in tests).

    Plan shape at 100 TB — the corpus cost is paid ONCE for the whole
    batch, not per query:
    - the union vocabulary (small: distinct terms across queries) is
      broadcast; the corpus is tokenized/exploded once and left-semi
      filtered to it inside the scan stage — only matching tokens ever
      shuffle.
    - per-(doc, term) tf and the per-term df/idf and the per-(doc,
      term) CONTRIBUTION are computed once, then fanned out to queries
      by a broadcast (qid, term) join — a term shared by 100 queries
      is scored once, joined 100 times.
    - per-query top-k is one window over (qid), input already pruned
      to candidate docs.

    Scores use the same quantize-then-exact-decimal-sum discipline as
    bm25_topk, so they are aggregation-order independent and equal to
    the single-query scores bit for bit.
    """
    k = max(int(k), 1)
    qterms = (
        queries.select(
            F.col(qid_col).alias("qid"), F.explode(terms_col).alias("term")
        )
        .distinct()  # BM25 bag form: a repeated query term weighs once
    )
    vocab = qterms.select("term").distinct()

    toks = F.expr(T.tokens(text_col, T.SPARK))
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    stats = base.agg(
        F.count("*").alias("n_docs"), F.sum(F.size("toks")).alias("total_len")
    )
    postings = (
        base.select(
            "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
        )
        .join(F.broadcast(vocab), "term", "left_semi")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = postings.groupBy("term").agg(F.count("*").alias("df"))

    contrib = (
        postings.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            ),
        )
        .withColumn("avgdl", F.col("total_len").cast("double") / F.col("n_docs"))
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
        .select("term", "doc_id", "contrib")
    )

    scored = (
        contrib.join(F.broadcast(qterms), "term")
        .groupBy("qid", "doc_id")
        .agg(F.sum(_qz6(F.col("contrib")).cast("decimal(38,6)")).alias("score_dec"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("score_dec").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .withColumn(
            "score",
            F.expr(
                "cast(floor(score_dec * 1000000 + 0.5) as bigint)"
                " / cast(1000000 as double)"
            ),
        )
        .select("qid", F.col("doc_id").alias(id_col), "score", "rnk")
    )


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
    rnk_col: str = "rnk",
    by: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two ranked
    lists: score(d) = Σ_leg 1/(c + rank_leg(d)), candidates = the UNION
    of both lists, a missing leg contributing 0.

    Returns (*by, id_col, rrf_score double, rnk int) ordered within
    each ``by`` group by (rrf_score desc, id asc). ``by`` lets a
    query-BATCH be fused in one call: pass e.g. ``by=["qid"]`` with
    each leg carrying per-query ranks, and the fusion joins and ranks
    per query — one plan for the whole batch, no driver loop.

    The fusion is a union plus one sum-by-id — full-outer-join
    SEMANTICS (the union covers ids present on either leg) without a
    join operator: full outer can't broadcast in Spark, so the join
    form would force a sort-merge even on two k-row legs, while the
    union form is a single hash aggregation on (by, id). The score
    stays deterministic: each id aggregates at most TWO doubles, and
    IEEE addition of two values is commutative, so no
    summation-order dependence exists to worry about. RRF only
    consumes RANKS, which makes it the right fusion for legs whose
    scores live on incomparable scales (cosine distance vs BM25) — no
    score normalization step, nothing to tune but ``c``.

    Scale note: single-query inputs are ≤ k rows, trivially
    broadcastable; batched inputs are O(n_queries · k) rows and the
    aggregation/rank both key on (by, id) — still tiny relative to
    any corpus.
    """
    c = float(c)
    by = list(by)
    k = max(int(k), 1)
    contrib = F.lit(1.0) / (F.lit(c) + F.col(rnk_col))
    fa = a.select(*by, F.col(id_col).alias("id"), contrib.alias("contrib"))
    fb = b.select(*by, F.col(id_col).alias("id"), contrib.alias("contrib"))
    w = Window.partitionBy(*by).orderBy(F.col("rrf_score").desc(), F.col("id"))
    return (
        fa.unionByName(fb)
        .groupBy(*by, "id")
        .agg(F.sum("contrib").alias("rrf_score"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(*by, F.col("id").alias(id_col), "rrf_score", "rnk")
    )


def hybrid_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    query_vector,
    terms: list[str],
    k: int = 10,
    fetch_k: int | None = None,
    rrf_c: int = 60,
    metric: str = "cosine",
    id_col: str = "doc_id",
    text_col: str = "text",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_quantize: int | None = None,
) -> DataFrame:
    """Single-query hybrid search: the semantic leg (exact kNN over the
    embedding table, operators/knn.knn_single) and the lexical leg
    (bm25_topk over the documents table) fused with RRF.

    ``fetch_k`` (default 4k) is how deep each leg retrieves before
    fusion — the standard over-fetch so a document ranked modestly on
    BOTH legs can beat one ranked highly on a single leg. Embedding ids
    are assumed to be document ids (the testdata contract; pass a
    mapping join upstream otherwise).

    ``dist_quantize`` (decimals) ranks the semantic leg on the
    quantized distance with the id tie-break instead of the raw
    double. RRF consumes rank POSITIONS, so an ulp-level distance
    difference between runs/engines/BLAS builds would otherwise flip
    a rank and move the fused score by a quantum — quantized ranking
    makes the fusion reproducible wherever the distances agree to the
    grain (the engine-parity guarantee the kNN gates pin).
    """
    from distributedvectordatabase_spark.operators.knn import knn_single

    fetch = int(fetch_k) if fetch_k is not None else 4 * max(int(k), 1)
    dist_order = F.col("dist")
    if dist_quantize is not None:
        m = float(10 ** int(dist_quantize))
        dist_order = F.floor(dist_order * F.lit(m) + F.lit(0.5)) / F.lit(m)
    vec_leg = knn_single(
        embeddings, query_vector, k=fetch, metric=metric,
        id_col=emb_id_col, vec_col=vec_col,
    ).select(
        F.col("neighbor_id").alias(id_col),
        F.row_number()
        .over(Window.orderBy(dist_order, F.col("neighbor_id")))
        .alias("rnk"),
    )
    text_leg = bm25_topk(docs, terms, k=fetch, id_col=id_col, text_col=text_col)
    return rrf_fuse(vec_leg, text_leg, k=k, c=rrf_c, id_col=id_col)


def hybrid_topk_batch(
    docs: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    fetch_k: int | None = None,
    rrf_c: int = 60,
    metric: str = "cosine",
    id_col: str = "doc_id",
    text_col: str = "text",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    terms_col: str = "terms",
    dist_quantize: int | None = None,
) -> DataFrame:
    """Hybrid search for a TABLE of queries, each carrying BOTH legs'
    inputs: (qid, qvec array, terms array<string>). One plan for the
    whole batch — the semantic leg is the batched exact kNN (corpus
    scanned once, per-partition partial top-k before the exchange),
    the lexical leg is :func:`bm25_topk_batch` (corpus tokenized
    once), fused per qid by :func:`rrf_fuse` ``by=["qid"]``. Returns
    (qid, id_col, rrf_score, rnk); per query row-identical to
    :func:`hybrid_topk` (pinned in tests).
    """
    from distributedvectordatabase_spark.operators.knn import knn

    fetch = int(fetch_k) if fetch_k is not None else 4 * max(int(k), 1)
    # canonicalize query columns up front: knn's output always carries
    # the literal "qid" column regardless of qid_col, so downstream
    # references must use the canonical names
    q = queries.select(
        F.col(qid_col).alias("qid"),
        F.col(qvec_col).alias("qvec"),
        F.col(terms_col).alias("terms"),
    )
    hits = knn(
        embeddings, q.select("qid", "qvec"), k=fetch, metric=metric,
        id_col=emb_id_col, vec_col=vec_col,
    )
    dist_order = F.col("dist")
    if dist_quantize is not None:
        m = float(10 ** int(dist_quantize))
        dist_order = F.floor(dist_order * F.lit(m) + F.lit(0.5)) / F.lit(m)
    vec_leg = hits.select(
        "qid",
        F.col("neighbor_id").alias(id_col),
        F.row_number()
        .over(
            Window.partitionBy("qid").orderBy(dist_order, F.col("neighbor_id"))
        )
        .alias("rnk"),
    )
    text_leg = bm25_topk_batch(
        docs, q.select("qid", "terms"), k=fetch, id_col=id_col,
        text_col=text_col,
    )
    return rrf_fuse(vec_leg, text_leg, k=k, c=rrf_c, id_col=id_col, by=["qid"])


def hybrid_serve_batch(
    spark,
    store,
    index,
    queries: DataFrame,
    k: int = 10,
    fetch_k: int | None = None,
    rrf_c: int = 60,
    metric: str = "cosine",
    num_candidates: int | None = None,
    id_col: str = "doc_id",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    terms_col: str = "terms",
    dist_quantize: int | None = None,
    use_sq: bool = False,
    sq_rerank: int = 2,
    use_bq: bool = False,
    bq_rerank: int = 4,
    store_as_of: int | None = None,
    index_as_of: int | None = None,
    n_probe: int | None = None,
    where: str | None = None,
) -> DataFrame:
    """Hybrid search served entirely from PERSISTED structures — the
    production form of :func:`hybrid_topk_batch`: the semantic leg
    queries a built ``VectorStore`` (exact scan, or LSH multi-probe
    partition pruning when ``num_candidates`` is set) OR a built
    ``IVFStore`` (full probe when ``n_probe`` is unset — the exact
    invariant — or probed cell pruning), the lexical leg queries a
    built ``TextIndex`` via :meth:`TextIndex.bm25_batch` (one postings
    scan pruned to the batch's term buckets), and the legs fuse per
    qid with :func:`rrf_fuse`. Neither corpus is re-tokenized or
    re-scanned beyond its pruned partitions; the one-time build cost
    is amortized across every serving batch.

    Store kind is detected from the store object itself (an IVFStore
    carries centroids; the SQL ``hybrid(...)`` factor detects it from
    the ``_centroids.json`` sidecar, same as ``knn(...)``); the
    SQ/BQ compressed legs route to the matching ``knn_sq``/``knn_bq``
    of whichever store serves. ``num_candidates`` is the LSH knob,
    ``n_probe`` the IVF knob — setting the wrong one raises, so a
    caller can't silently serve unpruned thinking they pruned. The
    IVF leg is pinned row-identical to composing ``IVFStore.knn`` +
    ``bm25_batch`` + ``rrf_fuse`` by hand (tests/test_search.py).

    ``store_as_of`` / ``index_as_of`` pin each leg to a snapshot
    generation (each store numbers its own gens — pin both
    ``store.current_gen()`` and ``index.current_gen()`` together when
    a run starts): the fused result equals serving over fresh builds
    of those historical corpora (pinned in tests/test_snapshot.py).
    Since r9 this includes the compressed legs: SQ/BQ code rows carry
    the raw rows' ``_gen`` (builds keep it, appends sync it), so
    ``store_as_of`` with ``use_sq``/``use_bq`` reconstructs the codes
    as-of — subject to the sidecar's ``built_gen`` floor (rows deleted
    before the build never reached the codes; those snapshots raise
    with a pointer to the raw leg).

    ``where`` (r8) is a SQL predicate over the STORE's metadata
    columns — filtered hybrid search, the composition of the engine's
    exact-with-escalation filtered kNN with filtered BM25 retrieval.
    Semantics per leg: the semantic leg returns the exact (or pruned,
    if a pruning knob is set) top-fetch_k among matching rows — on an
    IVFStore via ``knn(where=...)`` (predicate pushed next to the cell
    pruning, triangle-bound escalation keeps it exact), on a
    VectorStore by pre-filtering the scan (pushed next to the shard
    pruning); the lexical leg scores with CORPUS-GLOBAL df/idf/avgdl
    and applies the filter as a hard constraint before its top-k cut
    (``bm25_batch(allowed_ids=...)`` — the standard IR contract: a
    filter narrows candidates, it does not re-weight the collection),
    with the allowed-id set read once off the store's own scan
    (predicate + id-column pushed). Since r9 the compressed legs
    filter too — the same allowed-id set semi-joins into the SQ/BQ
    codes scan BEFORE the shortlist cut (filter-then-rank at 1-8
    bytes/dim; at 100 TB serving lives on the compressed rungs, so
    falling back to the raw leg would re-read 4-32x the bytes).
    Composes with snapshot serving
    (``store_as_of``/``index_as_of``): the predicate
    and the allowed-id set evaluate over the PINNED store generation,
    so a historical filtered serve reproduces exactly what filtered
    serving returned then — reproducible filtered training-data
    retrieval through later appends/deletes.

    ``queries`` carries (qid, qvec array, terms array<string>);
    returns (qid, id_col, rrf_score, rnk). With ``num_candidates=None``
    (exact) the rows are identical per query to
    :func:`hybrid_topk_batch` over the same corpora (pinned in tests —
    the store's exact scan and the index's scoring are both
    bit-compatible with their one-shot operators). Embedding ids are
    assumed to be document ids, the same contract as hybrid_topk.
    """
    fetch = int(fetch_k) if fetch_k is not None else 4 * max(int(k), 1)
    # canonicalize query columns up front: the store's knn output
    # always carries the literal "qid" column regardless of qid_col
    q = queries.select(
        F.col(qid_col).alias("qid"),
        F.col(qvec_col).alias("qvec"),
        F.col(terms_col).alias("terms"),
    )
    qvecs = q.select("qid", "qvec")
    if use_sq and use_bq:
        raise ValueError("pick ONE compressed leg: use_sq or use_bq")
    is_ivf = hasattr(store, "centroids")
    if is_ivf and num_candidates is not None:
        raise ValueError(
            "num_candidates is the LSH pruning knob; this store is an "
            "IVFStore — prune with n_probe instead"
        )
    if not is_ivf and n_probe is not None:
        raise ValueError(
            "n_probe is the IVF pruning knob; this store is an "
            "LSH VectorStore — prune with num_candidates instead"
        )
    if is_ivf:
        probe = int(n_probe) if n_probe is not None else store.n_cells
        if use_bq:
            hits = store.knn_bq(
                spark, qvecs, k=fetch, n_probe=probe, rerank=bq_rerank,
                metric=metric, where=where, as_of_gen=store_as_of,
            )
        elif use_sq:
            hits = store.knn_sq(
                spark, qvecs, k=fetch, n_probe=probe, rerank=sq_rerank,
                where=where, as_of_gen=store_as_of,
            )
        else:
            hits = store.knn(
                spark, qvecs, k=fetch, n_probe=probe, metric=metric,
                as_of_gen=store_as_of, where=where,
            )
    elif use_bq:
        # semantic leg over the 1-bit binary sidecar (Hamming shortlist
        # + exact rerank). The caller's ``metric`` is passed through to
        # the rerank (knn_bq accepts a per-call override), so
        # metric='cosine' ranks by cosine even against a store whose
        # BQ sidecar was built without normalization — the shortlist
        # stays angular-by-construction either way. Requires
        # build_bq(). The cheapest first-pass scan on the ladder;
        # recall depends on the corpus domain (BASELINE.md).
        hits = store.knn_bq(
            spark, qvecs, k=fetch,
            pruned=num_candidates is not None,
            num_candidates=int(num_candidates or 2),
            rerank=bq_rerank,
            metric=metric,
            where=where, as_of_gen=store_as_of,
        )
    elif use_sq:
        # semantic leg over the store's SQ8 codes sidecar (1 byte/dim
        # scan + exact rerank) — SQ distances are squared-L2, so this
        # leg ranks by L2 regardless of ``metric``; on L2-normalized
        # embeddings the two orders coincide. Requires build_sq().
        hits = store.knn_sq(
            spark, qvecs, k=fetch,
            pruned=num_candidates is not None,
            num_candidates=int(num_candidates or 2),
            rerank=sq_rerank,
            where=where, as_of_gen=store_as_of,
        )
    elif num_candidates is None:
        if where is not None:
            from distributedvectordatabase_spark.operators.knn import knn as _knn

            hits = _knn(
                store.read(spark, as_of_gen=store_as_of).filter(where),
                qvecs, k=fetch,
                metric=metric, id_col=store.id_col, vec_col=store.vec_col,
                dim=store.lsh.dim,
            )
        else:
            hits = store.knn(
                spark, qvecs, k=fetch, pruned=False, metric=metric,
                as_of_gen=store_as_of,
            )
    else:
        if where is not None:
            from distributedvectordatabase_spark.operators.knn import (
                knn_pruned as _knn_pruned,
            )

            hits = _knn_pruned(
                store.read(spark, as_of_gen=store_as_of).filter(where),
                qvecs, store.lsh, k=fetch,
                num_candidates=int(num_candidates), metric=metric,
                id_col=store.id_col, vec_col=store.vec_col,
            )
        else:
            hits = store.knn(
                spark, qvecs, k=fetch, pruned=True,
                num_candidates=int(num_candidates), metric=metric,
                as_of_gen=store_as_of,
            )
    dist_order = F.col("dist")
    if dist_quantize is not None:
        m = float(10 ** int(dist_quantize))
        dist_order = F.floor(dist_order * F.lit(m) + F.lit(0.5)) / F.lit(m)
    vec_leg = hits.select(
        "qid",
        F.col("neighbor_id").alias(id_col),
        F.row_number()
        .over(Window.partitionBy("qid").orderBy(dist_order, F.col("neighbor_id")))
        .alias("rnk"),
    )
    allowed = None
    if where is not None:
        # one pass over the store's own table: predicate + id column
        # push to the scan, the semi-join build side is ids only
        allowed = store.read(spark, as_of_gen=store_as_of).filter(where).select(
            F.col(store.id_col).alias("doc_id")
        )
    text_leg = index.bm25_batch(
        spark, q.select("qid", "terms"), k=fetch, as_of_gen=index_as_of,
        allowed_ids=allowed,
    ).select("qid", F.col("doc_id").alias(id_col), "rnk")
    return rrf_fuse(vec_leg, text_leg, k=k, c=rrf_c, id_col=id_col, by=["qid"])
