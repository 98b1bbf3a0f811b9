"""Bucketed-table layout for co-located, shuffle-free joins (SURVEY.md §4.2
"Partitioning & shuffle"; 100-TB posture BASELINE.json:6).

At 100 TB the dominant cost of the star-schema joins (orders x lineitem,
events x users) is the shuffle of both fact tables on the join key.  Writing
both sides bucketed BY THE SAME key into the SAME number of buckets makes the
join a per-bucket zip: Catalyst sees compatible `HashPartitioning` output from
both scans and plans a SortMergeJoin with ZERO Exchange operators — verified
by `tests/test_plans.py::test_bucketed_join_has_no_exchange`.

Bucket-count sizing: buckets are fixed at write time, so size them for the
TARGET scale — `rows_at_scale / rows_per_task` (e.g. 100 TB of lineitem at
~128 MB per bucket file per partition ≈ tens of thousands of buckets), not for
the toy factor.  Too few buckets at scale = giant tasks; AQE cannot re-split a
bucketed scan.

Requires a persistent metastore table (`saveAsTable`) — bucket metadata lives
in the catalog, not the parquet footers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from google_analytics_dataframes_spark.io import session_memoized


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    path: str | None = None,
    options: dict | None = None,
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by ``bucket_col``.

    Sorting within buckets lets the later SortMergeJoin skip its sort too
    (plans collapse to scan -> join).  ``options`` forwards writer options
    (e.g. ``parquet.block.size`` — tests shrink it to reproduce, at toy
    scale, the many-row-groups-per-file structure a production-sized
    bucket file has naturally)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    if path is not None:
        w = w.option("path", path)
    for k, v in (options or {}).items():
        w = w.option(k, v)
    w.format("parquet").saveAsTable(table)


def _tables_exist(spark: SparkSession, tables) -> bool:
    """Memo validity rule for the stored artifacts below: every catalog
    table a memoized value names still exists (a value of None names
    none; a str names one)."""
    if isinstance(tables, str):
        tables = (tables,)
    return all(spark.catalog.tableExists(t) for t in tables or ())


# Persistent dedup-index cache (VERDICT r7 item #7): the corpus side of the
# incremental near-dup join, materialized ONCE as a bucketed+sorted catalog
# table so every subsequent ingest batch joins against the STORED index —
# no per-run recomputation of corpus signatures, no corpus-side shuffle.
# Each writer below is memoized per session and source fingerprint
# (io.session_memo), so a new session, another sf, or regenerated
# testdata rebuilds.
@session_memoized("documents", _tables_exist)
def gram_index_table(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> str:
    """Materialize (or reuse) the corpus-side char-3-gram signature index
    as a bucketed catalog table and return its name.

    Schema ``(doc_id, item, sz)``: one row per (corpus doc, distinct
    3-gram), with ``sz`` the doc's distinct-gram count denormalized onto
    every row so the verify step never joins back to a per-doc table.
    Bucketed AND sorted by ``item`` — the candidate-join key — so (a) an
    incoming batch joins with a ONE-SIDED exchange (only the batch
    moves; the 100-TB corpus index is already hash-placed), and (b)
    within each bucket file the sorted order gives parquet row groups
    narrow, disjoint ``item`` min/max ranges, so point/range predicates
    on the gram key prune row groups via footer stats alone
    (tests/test_plans.py::test_gram_index_row_groups_prunable).

    Bucket-count note (same as :func:`write_bucketed`): 8 suits the toy
    SFs; at the 100 TB target the index would be written with
    thousands of buckets sized ~128 MB each — the count is a caller
    decision fixed at write time."""
    import os

    from google_analytics_dataframes_spark.io import (
        scratch_dir,
        table_fingerprint,
    )

    fp = table_fingerprint(sf_dir, "documents")
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    table = f"gram_index_{sf_tag}_{fp}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    write_bucketed(
        corpus_gram_relation(spark, sf_dir),
        table,
        "item",
        n_buckets,
        sort_col="item",
        path=os.path.join(scratch_dir("gram_index"), table),
    )
    return table


@session_memoized("documents", _tables_exist)
def mask_index_tables(
    spark: SparkSession, sf_dir: str, max_vocab: int = 4096
):
    """Materialize (or reuse) the corpus dedup index in its BITMASK form —
    the physical strategy that wins on bounded-vocabulary corpora (see
    operators/dedup.jaccard_pairs_cross: in that regime every frequent
    gram co-occurs in nearly every cross pair, so an inverted-index join
    enumerates Theta(|batch| x |corpus|) candidate rows through a shuffle
    ANYWAY; packed-mask compares do the same pair work at a ~100x smaller
    constant with ZERO corpus shuffle).  Returns (vocab_table,
    mask_table), or None when the corpus gram vocabulary exceeds
    ``max_vocab`` — the caller then falls back to the bucketed gram-table
    index (:func:`gram_index_table`), whose prefix/index joins are the
    large-vocabulary regime's strategy.

    * ``vocab_table``  — (item, vid): the frozen dictionary.  Incremental
      batches encode THEIR grams against it; a batch gram absent from the
      corpus vocabulary cannot intersect any corpus doc, so it is dropped
      from the mask but still counted in the batch doc's set size —
      lossless for cross-pair Jaccard.
    * ``mask_table`` — (doc_id, sz, m0..mN): each corpus doc's distinct
      gram set packed into ceil(V/64) longs via the SAME aggregation the
      in-session strategy uses (operators/dedup.packed_mask_aggs), plus
      its distinct-gram count.  ~8V/64 bytes per doc regardless of text
      size; the whole 100 TB corpus reduces to a scan-only table that
      never shuffles and never re-reads text."""
    import os

    from pyspark.sql import functions as F

    from google_analytics_dataframes_spark.io import (
        scratch_dir,
        table_fingerprint,
    )
    from google_analytics_dataframes_spark.operators.dedup import (
        packed_mask_aggs,
    )

    fp = table_fingerprint(sf_dir, "documents")
    grams = corpus_gram_relation(spark, sf_dir)
    vocab_rows = grams.select("item").distinct().limit(max_vocab + 1).collect()
    if len(vocab_rows) > max_vocab:
        return None
    vocab = sorted(r["item"] for r in vocab_rows)
    n_words = (len(vocab) + 63) // 64
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    vocab_table = f"dedup_vocab_{sf_tag}_{fp}"
    mask_table = f"dedup_masks_{sf_tag}_{fp}"
    vdf = spark.createDataFrame(
        [(v, i) for i, v in enumerate(vocab)], ["item", "vid"]
    )
    base = scratch_dir("mask_index")
    for t in (vocab_table, mask_table):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    vdf.coalesce(1).write.mode("overwrite").option(
        "path", os.path.join(base, vocab_table)
    ).format("parquet").saveAsTable(vocab_table)
    masks = (
        grams.join(F.broadcast(vdf), "item")
        .groupBy("doc_id", "sz")
        .agg(*packed_mask_aggs(n_words))
    )
    masks.write.mode("overwrite").option(
        "path", os.path.join(base, mask_table)
    ).format("parquet").saveAsTable(mask_table)
    return vocab_table, mask_table


@session_memoized("embeddings", _tables_exist)
def ivf_index_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize (or reuse) the embedding-side IVF index as STORED
    catalog tables and return ``(centroid_table, cells_table)`` — the l69
    treatment applied to vectors (VERDICT r8 item #3): l14-class queries
    recompute the coarse quantizer (a posexplode + 640-cell decimal
    aggregation over the whole corpus) on EVERY query, which at 100 TB is
    the expensive half of ANN; here it is paid once at index-build time.

    * ``centroid_table`` — (label, centroid double[64]): the coarse
      quantizer, byte-identical to :func:`operators.similarity.
      label_centroids` output (same exact-decimal mean, so a stored-index
      probe returns the SAME answer as l14's per-run build; doubles
      round-trip parquet losslessly).  |cells| rows — broadcastable at
      any corpus size.
    * ``cells_table`` — the vector assignments written
      ``partitionBy(cell)``: probing nprobe cells is a PARTITION-PRUNED
      read (Catalyst's dynamic partition pruning turns the broadcast
      probe-side join into a scan-time partition filter — asserted in
      tests/test_plans.py), so query cost is O(probed cells), never a
      corpus scan.  Cell = label here, matching l14's quantizer; a
      trained quantizer would assign argmin-distance cells in the same
      layout.

    At the 100 TB target each cell partition would itself be written as
    multiple ~128 MB files (the writer's maxRecordsPerFile lever); the
    layout — quantizer small and broadcastable, vectors hash-placed by
    cell — is the scale contract."""
    import os

    from pyspark.sql import functions as F

    from google_analytics_dataframes_spark.io import (
        load_table,
        scratch_dir,
        table_fingerprint,
    )
    from google_analytics_dataframes_spark.operators.similarity import (
        label_centroids,
    )

    fp = table_fingerprint(sf_dir, "embeddings")
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    centroid_table = f"ivf_centroids_{sf_tag}_{fp}"
    cells_table = f"ivf_cells_{sf_tag}_{fp}"
    base = scratch_dir("ivf_index")
    emb = load_table(spark, sf_dir, "embeddings")
    for t in (centroid_table, cells_table):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    label_centroids(emb).coalesce(1).write.mode("overwrite").option(
        "path", os.path.join(base, centroid_table)
    ).format("parquet").saveAsTable(centroid_table)
    emb.select("vec_id", "embedding", F.col("label").alias("cell")).write.mode(
        "overwrite"
    ).partitionBy("cell").option(
        "path", os.path.join(base, cells_table)
    ).format("parquet").saveAsTable(cells_table)
    return centroid_table, cells_table


def _stored_stats_row(
    spark, stats_table: str, scratch: str, owned: str, live_prefix: str, compute
):
    """The one-row stats table ``stats_table`` (under ``scratch_dir(scratch)``),
    written from the DataFrame ``compute()`` returns unless the catalog
    already holds it.

    A write first evicts stale siblings: a new table fingerprint (data
    regen) creates a new name, and without this the old fingerprint's
    tables leak catalog entries + scratch parquet forever (ADVICE r12).
    Candidates must match ``owned``, the FULL writer-owned name pattern
    (ADVICE r13): a bare prefix could sweep up a user temp view whose name
    merely starts the same way, so only names the writer could have
    produced qualify, and TEMPORARY catalog entries are skipped outright.
    Names under ``live_prefix`` (the live fingerprint, other parameters)
    are KEPT — they are live caches for other callers, not stale.  Scratch
    caches are SINGLE-SESSION by contract (VERDICT r13 nit #5): two
    concurrent sessions regenerating different fingerprints could race
    this rmtree against each other's live read.

    The index writers above do not sweep: ``listTables`` costs 0.1-0.9 s
    a call, and the IVF build sits on timed query paths."""
    import os
    import re
    import shutil

    from google_analytics_dataframes_spark.io import scratch_dir

    if not spark.catalog.tableExists(stats_table):
        agg = compute()
        base = scratch_dir(scratch)
        for t in spark.catalog.listTables():
            n = t.name
            if (
                re.match(owned, n)
                and not n.startswith(live_prefix)
                and getattr(t, "tableType", "") != "TEMPORARY"
            ):
                spark.sql(f"DROP TABLE IF EXISTS {n}")
                shutil.rmtree(os.path.join(base, n), ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {stats_table}")
        agg.coalesce(1).write.mode("overwrite").option(
            "path", os.path.join(base, stats_table)
        ).format("parquet").saveAsTable(stats_table)
    return spark.table(stats_table).head()


@session_memoized("documents")
def dedup_cross_stats(
    spark: SparkSession, sf_dir: str, max_vocab: int = 4096
) -> dict:
    """Persist (or reuse) the dedup index's CROSS-JOIN statistics and
    return a COMPLETE ``stats`` dict for
    :func:`operators.dedup.jaccard_pairs_cross` — ``{"n_items", "vocab",
    "n_in_docs"}`` with ``n_in_docs`` always present (VERDICT r11 item
    #4): a stats dict missing ``n_in_docs`` forces the operator to count
    the incoming side's docs with a full scan of the unpersisted input
    lineage — exactly the probe job the stats exist to skip — so the
    stored writer records it rather than trusting every caller to.

    Contents, persisted as a one-row catalog table next to the other
    index artifacts (memoized like them, per session and fingerprint):

    * ``n_in_docs`` / ``n_in_items`` — the incoming slice's doc and
      (doc, distinct-gram) row counts (``length(source) == 5``, the
      batch side of the l60/l69/l75 family).
    * ``n_ex_items`` — the corpus side's row count (``length(source) ==
      4``, the side :func:`corpus_gram_relation` indexes).
    * ``vocab`` — the UNION vocabulary over both sides (the operator
      validates coverage before the bitmask path may run; a corpus-only
      vocabulary would spuriously fail that check on any batch gram the
      corpus lacks), or None past ``max_vocab`` — the operator then
      routes to a candidate-generation strategy, same regime logic as
      :func:`mask_index_tables`."""
    import os
    import re

    from pyspark.sql import functions as F

    from google_analytics_dataframes_spark.io import load_table, table_fingerprint
    from google_analytics_dataframes_spark.operators.dedup import char_ngrams

    def compute() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        grams = docs.filter(F.length("source").isin(4, 5)).select(
            "doc_id",
            F.length("source").alias("_side"),
            F.explode(char_ngrams(F.col("text"), 3)).alias("item"),
        )
        grams = grams.persist()
        counts = grams.groupBy().agg(
            F.count_distinct(
                F.when(F.col("_side") == 5, F.col("doc_id"))
            ).alias("n_in_docs"),
            # coalesce: SUM over zero rows is NULL, and a corpus with no
            # length-4/5 sources must yield zeros, not a TypeError at the
            # int() below (review finding, round 12)
            F.coalesce(
                F.sum((F.col("_side") == 5).cast("long")), F.lit(0)
            ).alias("n_in_items"),
            F.coalesce(
                F.sum((F.col("_side") == 4).cast("long")), F.lit(0)
            ).alias("n_ex_items"),
        ).head()
        # vocab probe bounded exactly like mask_index_tables: the driver
        # never holds more than max_vocab + 1 items, whatever the corpus
        vocab_rows = (
            grams.select("item").distinct().limit(max_vocab + 1).collect()
        )
        grams.unpersist()
        return spark.createDataFrame(
            [
                (
                    int(counts["n_in_docs"]),
                    int(counts["n_in_items"]),
                    int(counts["n_ex_items"]),
                    sorted(r["item"] for r in vocab_rows),
                )
            ],
            "n_in_docs long, n_in_items long, n_ex_items long, "
            "vocab array<string>",
        )

    fp = table_fingerprint(sf_dir, "documents")
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    # max_vocab is part of the PHYSICAL identity: a table written under a
    # smaller cap holds a truncated vocab that a larger-cap caller would
    # otherwise read back as complete (review finding, round 12)
    row = _stored_stats_row(
        spark,
        f"dedup_cross_stats_{sf_tag}_{fp}_v{max_vocab}",
        "cross_stats",
        rf"^dedup_cross_stats_{re.escape(sf_tag)}_[0-9a-f]{{16}}_v\d+$",
        f"dedup_cross_stats_{sf_tag}_{fp}_",
        compute,
    )
    vocab = list(row["vocab"]) if len(row["vocab"]) <= max_vocab else None
    return {
        "n_items": int(row["n_in_items"]) + int(row["n_ex_items"]),
        "vocab": vocab,
        "n_in_docs": int(row["n_in_docs"]),
    }


@session_memoized("documents")
def simjoin_token_stats(
    spark: SparkSession,
    sf_dir: str,
    mod: int,
    res: int,
    max_vocab: int = 4096,
) -> dict:
    """Persist (or reuse) the l7-family WORD-TOKEN statistics — the
    within/cross Jaccard routers' strategy inputs served from catalog
    metadata instead of per-run probe jobs (VERDICT r14 item #4: the
    l60-batch-5 recipe applied to the simjoin family; l7's corpus IS the
    fingerprinted documents table, so its router stats are table
    metadata, not per-query discovery).

    One catalog row per (dataset fingerprint, slice, max_vocab) over the
    ENGLISH slice's distinct-word-token relation — the exact items
    streams l7 (within: all en docs) and l7b (cross: ``doc_id % mod ==
    res`` incoming vs all en existing) build:

    * ``n_items``       — (doc, distinct token) rows over all en docs
    * ``n_slice_items`` — same, restricted to the residue slice
    * ``n_slice_docs``  — distinct doc_id in the slice (the cross form's
      ``n_in_docs`` broadcast-cap input)
    * ``vocab``         — the full token vocabulary when <= max_vocab,
      else None (the routers then take candidate-generation strategies;
      the probe never holds more than max_vocab + 1 driver-side rows)

    Tokenization is operators/dedup.tokens — byte-identical to the query
    side (the round-8 shared-builder rule), and the union vocabulary of
    slice+corpus equals the corpus vocabulary because the slice is a
    subset.  Coverage of a served vocab is still enforced IN-PLAN by the
    operators' _guarded_masks, so a stale-but-wrong value can never
    silently mis-pair (it fails the query loudly)."""
    import os
    import re

    from pyspark.sql import functions as F

    from google_analytics_dataframes_spark.io import load_table, table_fingerprint
    from google_analytics_dataframes_spark.operators.dedup import tokens

    def compute() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        toks = (
            docs.filter(F.col("lang") == "en")
            .select(
                "doc_id",
                F.explode(F.array_distinct(tokens("text"))).alias("item"),
            )
            .persist()
        )
        counts = toks.groupBy().agg(
            F.coalesce(F.count("*"), F.lit(0)).alias("n_items"),
            F.coalesce(
                F.sum((F.col("doc_id") % mod == res).cast("long")), F.lit(0)
            ).alias("n_slice_items"),
            F.coalesce(
                F.count_distinct(
                    F.when(F.col("doc_id") % mod == res, F.col("doc_id"))
                ),
                F.lit(0),
            ).alias("n_slice_docs"),
        ).head()
        vocab_rows = (
            toks.select("item").distinct().limit(max_vocab + 1).collect()
        )
        toks.unpersist()
        return spark.createDataFrame(
            [
                (
                    int(counts["n_items"]),
                    int(counts["n_slice_items"]),
                    int(counts["n_slice_docs"]),
                    sorted(r["item"] for r in vocab_rows),
                )
            ],
            "n_items long, n_slice_items long, n_slice_docs long, "
            "vocab array<string>",
        )

    fp = table_fingerprint(sf_dir, "documents")
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    row = _stored_stats_row(
        spark,
        f"simjoin_stats_{sf_tag}_{fp}_m{mod}r{res}_v{max_vocab}",
        "simjoin_stats",
        rf"^simjoin_stats_{re.escape(sf_tag)}_[0-9a-f]{{16}}_m\d+r\d+_v\d+$",
        f"simjoin_stats_{sf_tag}_{fp}_",
        compute,
    )
    vocab = list(row["vocab"]) if len(row["vocab"]) <= max_vocab else None
    return {
        "n_items": int(row["n_items"]),
        "n_slice_items": int(row["n_slice_items"]),
        "n_slice_docs": int(row["n_slice_docs"]),
        "vocab": vocab,
    }


def corpus_gram_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-side signature relation the gram index stores: one row
    per (existing-corpus doc, distinct char-3-gram) with the per-doc
    distinct-gram count denormalized on.  Shared by
    :func:`gram_index_table` and the row-group-layout evidence test
    (tests/test_plans.py::test_gram_index_row_groups_prunable) so the
    tested bytes are built by the same lineage the query reads."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from google_analytics_dataframes_spark.io import load_table
    from google_analytics_dataframes_spark.operators.dedup import char_ngrams

    # ONE shared gram builder (operators/dedup.char_ngrams) for the stored
    # index AND every query that joins against it — the tokenizers must
    # stay byte-identical or the stored pair set silently diverges from
    # the per-run one (code-review finding, round 8)
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.length("source") == 4)
        .select("doc_id", F.explode(char_ngrams(F.col("text"), 3)).alias("item"))
        .withColumn("sz", F.count("*").over(W.partitionBy("doc_id")))
    )


def colocated_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on,
    how: str = "inner",
    merge_hint: bool = False,
) -> DataFrame:
    """Join two same-bucketed catalog tables.  With both sides bucketed on
    the join key into equal bucket counts, the physical plan contains no
    Exchange: each task reads bucket i of both sides and joins locally.

    ``merge_hint`` forces SortMergeJoin — use it when demonstrating/testing
    co-location on toy-sized tables, where Catalyst would otherwise pick a
    broadcast join (at the target scale neither fact table fits the
    broadcast threshold, so the SMJ path is the one that matters)."""
    left = spark.table(left_table)
    if merge_hint:
        left = left.hint("MERGE")
    return left.join(spark.table(right_table), on, how)
