"""Lexical and hybrid retrieval over the document corpus.

A training-data pipeline needs LEXICAL search next to the embedding ANN
paths (operators/similarity): targeted corpus probes ("find documents
mentioning X"), keyword-based decontamination audits, and the lexical
leg of hybrid RAG retrieval. Everything here is plain DataFrame algebra
— tokenize → aggregate → window — so Catalyst owns the plan and every
score is replayable in ANSI SQL (these operators' queries are fully
DuckDB-oracled, unlike typical search engines' opaque scoring).

Scale shape: one explode + two aggregations over (term, doc) longs; the
per-term document frequencies are a broadcast-sized relation for any
real vocabulary; top-k cuts are windows over (score, id) total orders.
Scores are quantized at 1e-6 for cross-engine rank stability (repo
convention, same as the embedding cosines).

Public references: BM25 per Robertson/Spärck Jones (the Lucene/Elastic
``k1``/``b`` parameterization and idf form), reciprocal-rank fusion per
Cormack/Clarke/Büttcher 2009.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cashback_data_pipeline_spark.session import local_rows_df


def _q6(c: Column) -> Column:
    """1e-6 quantization — engine-portable floor-half-up."""
    return F.floor(c * 1_000_000 + F.lit(0.5)) / 1_000_000


def _toks(text_col, mode: str):
    from cashback_data_pipeline_spark.operators.text import tokens

    return tokens(F.col(text_col) if isinstance(text_col, str) else text_col, mode=mode)


def _topk_ranked(scored: DataFrame, k: int, id_col: str, score_col: str) -> DataFrame:
    """Distributed global top-k WITH rank column: orderBy+limit compiles
    to TakeOrderedAndProject (per-partition heaps + driver merge — no
    single-partition window over the full scored relation, which is
    what a bare global row_number() costs), then the rank window runs
    on the ≤k surviving rows. Same result as ranking first: the limit
    and the window share one total order."""
    w = W.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    return (
        scored.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select(id_col, score_col, "rank")
    )


def doc_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "split",
) -> DataFrame:
    """(id, term) pairs: whitespace tokenization (the corpus convention,
    same as text.vocab_top_terms), empty terms and NULL texts dropped.
    ``mode="script"`` switches to the CJK-safe script-aware tokenizer
    (operators.text.SCRIPT_TOKEN_PATTERN) so term-level retrieval over
    unspaced scripts indexes per character instead of one giant "word"
    per line — pass the SAME mode at index/query time.

    Widened before the explode (OPTIMIZATION r12, guide §2.6): a small
    corpus arrives as ONE input split, so the tokenize+explode+partial-
    aggregate map work of every downstream term aggregation ran on one
    core (measured 5.5 s single-task stages in index_build — the whole
    index family's dominant cost). At scale the scan already has many
    splits and no shuffle is added — same guard the dedup/text shingle
    paths use."""
    from cashback_data_pipeline_spark.operators.text import ensure_min_parallelism, tokens

    return (
        ensure_min_parallelism(docs.filter(F.col(text_col).isNotNull()))
        .select(F.col(id_col), F.explode(tokens(F.col(text_col), mode=mode)).alias("term"))
        .filter(F.col("term") != "")
    )


def tfidf_keywords(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "split",
) -> DataFrame:
    """Top-k keywords per document by tf·idf (idf = ln(N/df), N = docs
    with text): the classic per-document summarization/indexing score.
    Output (doc_id, term, tfidf, rank); ties broken on term for a total
    order. One explode, tf/df aggregations, a broadcast join of the
    (term, df) relation, one window."""
    base = docs.filter(F.col(text_col).isNotNull())
    n_docs = base.count()
    terms = doc_terms(base, id_col, text_col, mode=mode)
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df_), "term").select(
        id_col,
        "term",
        _q6(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("tfidf"),
    )
    w = W.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "split",
) -> DataFrame:
    """BM25 document ranking for a bag of query terms (Lucene's
    parameterization: idf = ln(1 + (N − df + 0.5)/(df + 0.5)), tf
    saturation ``k1``, length normalization ``b`` against the corpus
    mean length in tokens). Output (doc_id, score, rank), top-k by
    (quantized score desc, doc_id) — the quantized total order is what
    makes the ranking stable across engines.

    Plan: the (term, df/idf) relation for the QUERY terms only is tiny
    and broadcast; each candidate doc contributes one row per matched
    query term; one aggregation sums the per-term contributions. Docs
    matching no query term score nothing (standard BM25 top-k)."""
    from cashback_data_pipeline_spark.operators.text import ensure_min_parallelism

    spark = docs.sparkSession
    # widened once here: the corpus-stats pass below tokenizes every row
    # (size of the token array) and would otherwise run on a 1-split scan
    # single-task; doc_terms() sees the widened frame and adds no second
    # exchange (guide §2.6 — no-op on multi-split inputs)
    base = ensure_min_parallelism(docs.filter(F.col(text_col).isNotNull()))
    stats = base.select(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size(F.filter(_toks(text_col, mode), lambda t: t != ""))).alias("avgdl"),
    ).first()
    if not stats["n"]:
        # no scorable documents — empty top-k, not a float(None) crash
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                docs.schema[id_col],
                T.StructField("score", T.DoubleType()),
                T.StructField("rank", T.IntegerType()),
            ]
        )
        return spark.createDataFrame([], schema)
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"])

    terms = doc_terms(base, id_col, text_col, mode=mode)
    qterms = local_rows_df(spark, [(t,) for t in sorted(set(query_terms))], "term string")
    tf = (
        terms.join(F.broadcast(qterms), "term")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = terms.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, id_col)
        .select(
            id_col,
            (
                idf
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl)))
            ).alias("c"),
        )
    )
    scored = contrib.groupBy(id_col).agg(_q6(F.sum("c")).alias("score"))
    return _topk_ranked(scored, k, id_col, "score")


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 10,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of two rankings (Cormack et al. 2009):
    score(d) = Σ_lists 1/(rrf_k + rank_list(d)) over the lists that
    contain d — the standard hybrid-search combiner (lexical ⊕ vector)
    because it needs no score calibration between the legs. Output
    (doc_id, rrf_score, rank), top-k on the quantized fused score."""
    a = ranked_a.select(F.col(id_col), (F.lit(1.0) / (rrf_k + F.col(rank_col))).alias("ra"))
    b_ = ranked_b.select(F.col(id_col), (F.lit(1.0) / (rrf_k + F.col(rank_col))).alias("rb"))
    fused = (
        a.join(b_, id_col, "full_outer")
        .select(
            id_col,
            _q6(F.coalesce(F.col("ra"), F.lit(0.0)) + F.coalesce(F.col("rb"), F.lit(0.0))).alias(
                "rrf_score"
            ),
        )
    )
    return _topk_ranked(fused, k, id_col, "rrf_score")


def _bucket_of(term_col: Column, n_buckets: int) -> Column:
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets))


def _bucket_ids(spark, qterms: list[str], n_buckets: int) -> set[int]:
    """Bucket ids of the query terms, via constant-folded LITERAL
    expressions: Catalyst evaluates ``pmod(xxhash64('term'), nb)`` with
    the exact engine hash during optimization, so ``first()`` collects
    from a LocalRelation — zero tasks, zero Python workers
    (OPTIMIZATION r12: the previous createDataFrame(qterms) probe
    parallelized a default-parallelism pickled RDD, a 32-task +
    32-Python-worker job per search just to hash ≤ 17 strings)."""

    if not qterms:
        return set()  # "SELECT " with no projections would not parse

    def q(t: str) -> str:
        return "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"

    row = spark.sql(
        "SELECT "
        + ", ".join(
            f"pmod(xxhash64({q(t)}), {n_buckets}) AS b{i}" for i, t in enumerate(qterms)
        )
    ).first()
    return {int(v) for v in row}


def _doclens_from_tf(base: DataFrame, tf: DataFrame, id_col: str) -> DataFrame:
    """(id, dl) doclens from a (term, id, tf) relation. Carries EVERY doc
    of ``base`` (dl=0 for token-less docs): it doubles as the index's
    doc-id registry, so redelivered empty docs are still recognized by
    the upsert anti-join."""
    return (
        base.select(F.col(id_col))
        .join(tf.groupBy(id_col).agg(F.sum("tf").alias("dl")), id_col, "left")
        .select(id_col, F.coalesce("dl", F.lit(0)).alias("dl"))
    )


def _doc_tf_dl(base: DataFrame, id_col: str, text_col: str):
    """(term, id, tf) postings and (id, dl) doclens for a doc batch."""
    tf = doc_terms(base, id_col, text_col).groupBy("term", id_col).agg(
        F.count(F.lit(1)).alias("tf")
    )
    return tf, _doclens_from_tf(base, tf, id_col)


def build_inverted_index_manifest(
    docs: DataFrame,
    table: str,
    n_term_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    delta_id: str | None = None,
) -> int:
    """Version 1 of the MANIFEST-COMMITTED incremental inverted index
    (VERDICT r5 item 2: :func:`build_inverted_index` is full-rebuild
    only — a 100 TB corpus needs delta postings merged atomically; the
    reference analog is its idempotent incremental serving load,
    load_to_redshift_lambda.py:88-100, honored here for the engine's own
    search index). Four stores under ONE manifest version (atomic across
    stores — sinks/manifest.py):

    - ``postings`` (term, id, tf) — hive-partitioned by ``term_bucket``,
      APPEND-ONLY: a delta adds files, never rewrites history;
    - ``doclens`` (id, dl) — append-only doc registry;
    - ``termstats`` (term, df) — vocabulary-sized, REWRITTEN per commit
      (df must reflect base+delta; postings rows stay df-free precisely
      so history never needs rewriting when df changes);
    - ``stats`` one row (n_docs, total_tokens) — rewritten per commit.

    Search reads a PINNED version: a racing upsert can never tear a
    running search, and time travel = search an older version."""
    return _commit_index_delta(
        docs,
        table,
        n_term_buckets=n_term_buckets,
        id_col=id_col,
        text_col=text_col,
        delta_id=delta_id,
    )


def upsert_inverted_index(
    delta_docs: DataFrame, table: str, delta_id: str | None = None
) -> int | None:
    """Merge a new-crawl delta into the index as ONE atomic manifest
    commit: per-term df refresh, appended postings/doclens, corpus-stat
    refresh — readers pinned to the previous version are untouched, and
    the new version exposes all four stores' updates together.

    Idempotent by construction twice over: (a) ``delta_id`` (e.g. a
    crawl-batch id) recorded in the commit meta makes an exact replay an
    O(#versions) metadata no-op; (b) even without one, delta docs whose
    ids are already registered (doclens anti-join) drop out, so a
    partial redelivery adds only genuinely-new docs and a full
    redelivery commits nothing. Returns the committed version, or None
    for a no-op replay."""
    return _commit_index_delta(delta_docs, table, delta_id=delta_id)


def _commit_index_delta(
    docs: DataFrame,
    table: str,
    n_term_buckets: int | None = None,
    id_col: str | None = None,
    text_col: str | None = None,
    delta_id: str | None = None,
) -> int | None:
    import json

    from pyspark.sql import types as T

    from cashback_data_pipeline_spark.sinks import manifest as M

    spark = docs.sparkSession

    def _ts_schema() -> T.StructType:
        return T.StructType(
            [T.StructField("term", T.StringType()), T.StructField("df", T.LongType())]
        )

    while True:
        cur = M.current_version(table)
        if cur is None:
            if n_term_buckets is None:
                raise FileNotFoundError(
                    f"no committed index in {table}; build_inverted_index_manifest first"
                )
            layout = {
                "kind": "inverted_index",
                "n_term_buckets": n_term_buckets,
                "id_col": id_col,
                "text_col": text_col,
                "id_field": docs.schema[id_col].jsonValue(),
            }
            prev = None
            old_files: list[str] = []
            old_termstats = None
            old_stats = (0, 0)
        else:
            prev = M.read_manifest(table, cur)
            layout = prev["meta"]["layout"]
            if delta_id is not None and delta_id in prev["meta"].get("delta_ids", []):
                return None  # exact replay of an already-committed delta
            id_col, text_col = layout["id_col"], layout["text_col"]
            # carry forward the append-only stores' files untouched;
            # termstats/stats are superseded by this commit's rewrite
            keep = set(M.store_files(prev, "postings")) | set(M.store_files(prev, "doclens"))
            old_files = [f for f in prev["files"] if f in keep]
            old_termstats = M.read_store(
                spark, table, "termstats", version=cur, schema=_ts_schema()
            )
            srow = M.read_store(spark, table, "stats", version=cur).first()
            old_stats = (int(srow["n_docs"]), int(srow["total_tokens"]))
        nb = layout["n_term_buckets"]
        id_field = T.StructField.fromJson(layout["id_field"])

        base = docs.filter(F.col(text_col).isNotNull())
        # in-batch id dedup (deterministic lowest-text winner): an
        # at-least-once upstream can deliver one doc twice IN THE SAME
        # delta, which would double-count its tf/dl and register two
        # doclens rows for one id — the cross-batch anti-join below only
        # guards against ids already committed
        wdup = W.partitionBy(id_col).orderBy(F.col(text_col).asc())
        base = (
            base.withColumn("__rn", F.row_number().over(wdup))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if cur is not None:
            known = M.read_store(
                spark,
                table,
                "doclens",
                version=cur,
                schema=T.StructType([id_field, T.StructField("dl", T.LongType())]),
            ).select(F.col(id_col))
            # belt-and-braces idempotence: redelivered ids contribute
            # nothing even when the caller supplied no delta_id
            base = base.join(known, id_col, "left_anti")
        base = base.localCheckpoint()  # one tokenize source for tf/df/stats
        tf = None
        try:
            tf, dl = _doc_tf_dl(base, id_col, text_col)
            # OPTIMIZATION r12 (guide §5): the commit runs FIVE actions
            # over tf/dl (sizing agg, postings/doclens/termstats/stats
            # writes) and, without this, each re-ran the tokenize+explode
            # aggregation from base — profiled as 3-4 full ~7 s 32-task
            # tokenize stages per commit. tf is the compact (term, id,
            # tf) relation; checkpoint it so tokenize runs once.
            tf = tf.localCheckpoint()
            dl = _doclens_from_tf(base, tf, id_col)
            # one sizing pass instead of two (count + token sum)
            srow = dl.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("t"),
            ).first()
            n_new, delta_tokens = int(srow["n"]), int(srow["t"])
            if n_new == 0 and cur is not None:
                return None  # nothing genuinely new — no version churn
            df_delta = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
            termstats = (
                df_delta
                if old_termstats is None
                else old_termstats.select("term", F.col("df").alias("df_old"))
                .join(df_delta.select("term", F.col("df").alias("df_new")), "term", "full_outer")
                .select(
                    "term",
                    (
                        F.coalesce("df_old", F.lit(0)) + F.coalesce("df_new", F.lit(0))
                    ).alias("df"),
                )
            )
            stats = local_rows_df(
                spark,
                [(old_stats[0] + n_new, old_stats[1] + int(delta_tokens))],
                "n_docs long, total_tokens long",
            )

            # TWO commit dirs on purpose: postings/doclens files live as
            # long as the version chain references them, but each commit
            # SUPERSEDES the previous termstats/stats — and vacuum works
            # at data-dir granularity, so dead vocabulary-sized termstats
            # sharing a dir with live postings would be unreclaimable
            # forever (one leak per delta). Separate dirs make each
            # superseded termstats/stats dir fully unreferenced and
            # vacuumable once the retention horizon passes.
            cid = M.new_commit_id()
            cid_superseded = M.new_commit_id()
            postings = tf.withColumn("term_bucket", _bucket_of(F.col("term"), nb))
            # the four store writes are INDEPENDENT jobs over the
            # checkpointed tf (or driver-local stats) — submit them from
            # a small thread pool so each job's tail backfills the next
            # job's tasks instead of serializing four scheduling
            # latencies (OPTIMIZATION r12, guide §2.6 "overlap
            # independent jobs"); files keep their deterministic order
            from concurrent.futures import ThreadPoolExecutor

            writes = [
                (
                    postings.repartition("term_bucket").sortWithinPartitions("term"),
                    cid, "postings", "term_bucket",
                ),
                # doclens files sized by ROWS (same discipline as
                # build_inverted_index): one footer per ~2M docs
                (dl.repartition(max(1, -(-n_new // 2_000_000))), cid, "doclens", None),
                (
                    termstats.withColumn("term_bucket", _bucket_of(F.col("term"), nb))
                    .repartition("term_bucket")
                    .sortWithinPartitions("term"),
                    cid_superseded, "termstats", "term_bucket",
                ),
                (stats, cid_superseded, "stats", None),
            ]
            with ThreadPoolExecutor(max_workers=4) as pool:
                futures = [
                    pool.submit(
                        M.write_store_files, wdf, table, wcid, wstore, partition_by=wpart
                    )
                    for wdf, wcid, wstore, wpart in writes
                ]
                files = [f for fut in futures for f in fut.result()]

            delta_ids = list((prev or {}).get("meta", {}).get("delta_ids", []))
            if delta_id is not None:
                delta_ids.append(delta_id)
            # meta grows O(#deltas); at one crawl batch per commit that is
            # the commit count — the same order as the manifest dir itself
            meta = {"layout": layout, "delta_ids": delta_ids}
            schema_json = json.dumps(postings.schema.jsonValue())
            if M._try_commit(table, (cur or 0) + 1, old_files + files, cur, schema_json, meta=meta):
                return (cur or 0) + 1
            # CAS lost: a racing writer committed — recompute this delta
            # against the winner's version (orphaned files → vacuum)
        finally:
            from cashback_data_pipeline_spark.session import (
                checkpointed_rdd_id,
                unpersist_rdd_ids,
            )

            rids = {checkpointed_rdd_id(base)}
            if tf is not None:
                rids.add(checkpointed_rdd_id(tf))
            rids.discard(None)
            if rids:
                unpersist_rdd_ids(spark, rids)


def compact_inverted_index(spark, table: str) -> int:
    """Maintenance for the incremental index: a streaming ingest
    (streaming.index_ingest_stream) commits one delta per epoch, so each
    term bucket accumulates one small postings file per epoch and the
    k-bucket search read pays file-open overhead per epoch. Rewrites
    postings and termstats re-sorted by term within each bucket
    (restoring ONE sorted run per bucket — delta appends preserve only
    per-file sorted runs, so row-group min/max pruning weakens as deltas
    pile up) and coalesces doclens, all as ONE new manifest version:
    searches in flight stay pinned, a concurrent delta commit just
    retries the CAS, and ``delta_ids`` carry forward so a replayed crawl
    batch is STILL a no-op after compaction. A crash mid-compaction
    publishes nothing (orphans → vacuum)."""
    from pyspark.sql import types as T

    from cashback_data_pipeline_spark.sinks import manifest as M

    while True:
        cur = M.current_version(table)
        if cur is None:
            raise FileNotFoundError(f"no committed index in {table}")
        prev = M.read_manifest(table, cur)
        layout = prev["meta"]["layout"]
        nb = layout["n_term_buckets"]
        id_field = T.StructField.fromJson(layout["id_field"])
        id_col = layout["id_col"]

        cid = M.new_commit_id()
        cid_superseded = M.new_commit_id()  # termstats/stats: vacuumable when superseded
        files: list[str] = []
        postings = M.read_store(
            spark,
            table,
            "postings",
            version=cur,
            schema=T.StructType(
                [T.StructField("term", T.StringType()), id_field, T.StructField("tf", T.LongType())]
            ),
        )
        files += M.write_store_files(
            postings.withColumn("term_bucket", _bucket_of(F.col("term"), nb))
            .repartition("term_bucket")
            .sortWithinPartitions("term"),
            table,
            cid,
            "postings",
            partition_by="term_bucket",
        )
        ts = M.read_store(
            spark,
            table,
            "termstats",
            version=cur,
            schema=T.StructType(
                [T.StructField("term", T.StringType()), T.StructField("df", T.LongType())]
            ),
        )
        files += M.write_store_files(
            ts.withColumn("term_bucket", _bucket_of(F.col("term"), nb))
            .repartition("term_bucket")
            .sortWithinPartitions("term"),
            table,
            cid_superseded,
            "termstats",
            partition_by="term_bucket",
        )
        dl = M.read_store(
            spark,
            table,
            "doclens",
            version=cur,
            schema=T.StructType([id_field, T.StructField("dl", T.LongType())]),
        )
        files += M.write_store_files(dl.coalesce(4), table, cid, "doclens")
        files += M.write_store_files(
            M.read_store(spark, table, "stats", version=cur), table, cid_superseded, "stats"
        )

        meta = {
            "layout": layout,
            "delta_ids": prev["meta"].get("delta_ids", []),
            "compaction": True,
        }
        if M._try_commit(table, cur + 1, files, cur, prev["schema"], meta=meta):
            return cur + 1


def search_inverted_index_manifest(
    spark,
    table: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    version: int | None = None,
) -> DataFrame:
    """BM25 top-k over the manifest-committed index at a PINNED version
    (default: current at call time — a concurrent upsert cannot tear the
    read). File pruning happens against MANIFEST METADATA: postings and
    termstats files whose path carries a non-query ``term_bucket=``
    segment are never opened — same ≤ k-bucket access path as
    :func:`search_inverted_index`, same score contract as
    :func:`bm25_topk` (quantized total order), so base+delta search must
    hash-match the full-scan BM25 over the union corpus."""
    import re

    from pyspark.sql import types as T

    from cashback_data_pipeline_spark.sinks import manifest as M

    v = M.current_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed index in {table}")
    m = M.read_manifest(table, v)
    layout = m["meta"]["layout"]
    id_col, nb = layout["id_col"], layout["n_term_buckets"]

    def _empty() -> DataFrame:
        id_field = T.StructField.fromJson(layout["id_field"])
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    id_field,
                    T.StructField("score", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )

    srow = M.read_store(spark, table, "stats", version=v).first()
    n_docs, total_tokens = int(srow["n_docs"]), int(srow["total_tokens"])
    if not n_docs or not total_tokens:
        return _empty()
    avgdl = float(total_tokens) / n_docs

    qterms = sorted(set(query_terms))
    want = _bucket_ids(spark, qterms, nb)

    def bucket_filter(relpath: str) -> bool:
        mt = re.search(r"term_bucket=(\d+)", relpath)
        return mt is not None and int(mt.group(1)) in want

    id_field = T.StructField.fromJson(layout["id_field"])
    hits = M.read_store(
        spark,
        table,
        "postings",
        version=v,
        file_filter=bucket_filter,
        schema=T.StructType(
            [
                T.StructField("term", T.StringType()),
                id_field,
                T.StructField("tf", T.LongType()),
            ]
        ),
    ).filter(F.col("term").isin(qterms))
    ts = M.read_store(
        spark,
        table,
        "termstats",
        version=v,
        file_filter=bucket_filter,
        schema=T.StructType(
            [T.StructField("term", T.StringType()), T.StructField("df", T.LongType())]
        ),
    ).filter(F.col("term").isin(qterms))
    dl = M.read_store(spark, table, "doclens", version=v)

    idf = F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = (
        hits.join(F.broadcast(ts), "term")
        .join(dl, id_col)
        .select(
            id_col,
            (
                idf
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl)))
            ).alias("c"),
        )
    )
    scored = contrib.groupBy(id_col).agg(_q6(F.sum("c")).alias("score"))
    return _topk_ranked(scored, k, id_col, "score")


def build_inverted_index(
    docs: DataFrame,
    path: str,
    n_term_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    cache_tf: bool = False,
) -> None:
    """Persist a lexical inverted index: one row per (term, doc, tf)
    plus per-term df, laid out for QUERY-TIME PRUNING — partitioned by
    ``term_bucket = pmod(xxhash64(term), n_term_buckets)`` and sorted by
    term within files, so a k-term search reads ≤ k partitions and
    row-group min/max term stats prune within them. The corpus-level
    stats BM25 needs (N, avgdl) land in one tiny ``_stats`` parquet so
    queries are zero-full-scan. At 100 TB: the index is (term, id, tf)
    longs + one string column — a fraction of corpus bytes — and
    building it is the tokenize + two-aggregate pipeline every term
    needs anyway, one shuffle keyed by term."""
    base = docs.filter(F.col(text_col).isNotNull())
    spark = docs.sparkSession
    # The (term, doc, tf) aggregate feeds both stores (postings and, as
    # dl = Σtf per doc, the doclens side table; avgdl = Σdl / N equals
    # averaging per-doc token counts over all non-null-text docs since
    # zero-token docs contribute 0 to both). Tokenize ONCE: checkpoint
    # the aggregate so the doclens and postings passes both read the
    # compact (term, id, tf) relation instead of each re-running the
    # explode+aggregate — the same move the delta-commit path made
    # (profiled there: 3-4 full ~7 s 32-task tokenize stages per
    # commit; here the plain build ran it twice). `cache_tf` (persist)
    # predates this and measured 2× SLOWER at bench scale (cache-write
    # overhead and no plan truncation); localCheckpoint materializes the
    # relation the build is about to write anyway, so it is
    # scale-appropriate at any corpus size.
    def _tf():
        return doc_terms(base, id_col, text_col).groupBy("term", id_col).agg(
            F.count(F.lit(1)).alias("tf")
        )

    tf = _tf().persist() if cache_tf else _tf().localCheckpoint()
    try:
        n_docs = base.count()
        dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
        # size the doclens files by ROWS, not by core count (guide §6 /
        # VERDICT r11 item 1): a (long, long) relation packs ~2M rows
        # into a ~32 MB file, so a bench-scale corpus writes ONE file
        # (searches open 1 footer instead of shuffle-partition-many) and
        # a billion-doc corpus still fans out to hundreds of writers
        dl_files = max(1, -(-n_docs // 2_000_000))
        dl.repartition(dl_files).write.mode("overwrite").parquet(f"{path}/doclens")
        total_tokens = (
            spark.read.parquet(f"{path}/doclens")
            .agg(F.coalesce(F.sum("dl"), F.lit(0)).alias("t"))
            .first()["t"]
        )
        stats = local_rows_df(
            spark,
            [(n_docs, (float(total_tokens) / n_docs) if n_docs else None)],
            "n_docs long, avgdl double",
        )
        stats.write.mode("overwrite").parquet(f"{path}/_stats")

        df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        postings = (
            tf.join(df_, "term")
            .withColumn("term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_term_buckets)))
        )
        if not total_tokens:
            # partitionBy of zero rows writes no footers (unreadable dir);
            # an empty non-partitioned write keeps the schema readable
            postings.write.mode("overwrite").parquet(f"{path}/postings")
        else:
            (
                postings.repartition("term_bucket")
                .sortWithinPartitions("term")
                .write.mode("overwrite")
                .partitionBy("term_bucket")
                .parquet(f"{path}/postings")
            )
    finally:
        if cache_tf:
            tf.unpersist()
        else:
            from cashback_data_pipeline_spark.session import (
                checkpointed_rdd_id,
                unpersist_rdd_ids,
            )

            rid = checkpointed_rdd_id(tf)
            if rid is not None:
                unpersist_rdd_ids(spark, {rid})
    # record the layout so searches hash terms with the same modulus and
    # reconstruct the id column (name AND type) exactly
    import json

    meta = {
        "n_term_buckets": n_term_buckets,
        "id_col": id_col,
        "id_field": docs.schema[id_col].jsonValue(),
    }
    local_rows_df(spark, [(json.dumps(meta),)], "meta string").write.mode(
        "overwrite"
    ).parquet(f"{path}/_meta")


def search_inverted_index(
    spark,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k over the PERSISTED index — no corpus scan: the
    postings read carries ``term_bucket IN (buckets of the query
    terms)`` (partition pruning) plus a pushed ``term IN (...)`` filter
    (row-group pruning via the sorted layout); doc lengths and corpus
    stats come from their side tables. Same score and ranking contract
    as :func:`bm25_topk` (quantized total order) — verified equal in
    tests, so the index is a pure access-path change."""
    import json

    from pyspark.sql import types as T

    meta = json.loads(spark.read.parquet(f"{path}/_meta").first()["meta"])
    id_col = meta["id_col"]
    nb = meta["n_term_buckets"]

    def _empty() -> DataFrame:
        id_field = T.StructField.fromJson(meta["id_field"])
        return spark.createDataFrame(
            [], T.StructType([id_field,
                              T.StructField("score", T.DoubleType()),
                              T.StructField("rank", T.IntegerType())])
        )

    stats = spark.read.parquet(f"{path}/_stats").first()
    if not stats["n_docs"] or stats["avgdl"] is None or stats["avgdl"] == 0.0:
        # no docs, or docs with zero tokens anywhere: nothing can match
        return _empty()
    n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"])
    qterms = sorted(set(query_terms))

    postings = spark.read.parquet(f"{path}/postings")
    buckets = _bucket_ids(spark, qterms, nb)
    hits = postings.filter(
        F.col("term_bucket").isin(sorted(buckets)) & F.col("term").isin(qterms)
    )
    dl = spark.read.parquet(f"{path}/doclens")
    idf = F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = hits.join(dl, id_col).select(
        id_col,
        (
            idf
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl)))
        ).alias("c"),
    )
    scored = contrib.groupBy(id_col).agg(_q6(F.sum("c")).alias("score"))
    return _topk_ranked(scored, k, id_col, "score")
