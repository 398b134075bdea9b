"""Physical-plan assertions — the 100 TB contract.

Correctness tests prove the operators compute the right rows; these
prove they compute them the way a 1000-executor deployment needs:
filters reach the parquet scan, projections prune columns, dimension
joins broadcast, top-k avoids global sorts, the LWW fold is an
aggregation (not a window), and every lake write's fold + bucket
layout share ONE exchange. A regression here is invisible at sf0.01
and fatal at 100 TB, which is exactly why it is pinned by tests.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def count_exchanges(plan_text: str) -> int:
    """Count Exchange operators in the plan TREE (the formatted output
    repeats each node in a detail section below the tree)."""
    tree = plan_text.split("\n\n")[0]
    return sum(1 for ln in tree.splitlines() if "Exchange" in ln)


def test_filter_pushdown_and_column_pruning(spark, sf_dir):
    p = plan(E.queries()["tpch_q1"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # projection pruned to the 7 needed columns — wide columns never scanned
    read_schema = next(ln for ln in p.splitlines() if "ReadSchema" in ln)
    assert "l_comment" not in read_schema and "l_shipdate" in read_schema


def test_dimension_joins_broadcast(spark, sf_dir):
    p = plan(E.queries()["star_join_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    # top-k is TakeOrdered, never a global Sort of the aggregate
    assert "TakeOrderedAndProject" in p

    p2 = plan(E.queries()["semi_join_filter"](spark, sf_dir))
    assert "BroadcastHashJoin" in p2 and "LeftSemi" in p2


def test_lww_fold_single_shuffle_with_partial_agg(spark, sf_dir):
    from odibel_spark.cdc.replay import last_writer_wins

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    p = plan(last_writer_wins(ev, ["user_id", "event_type"], "event_id"))
    assert count_exchanges(p) == 1, "LWW fold must be one shuffle"
    # map-side combine BEFORE the exchange: at 10^10 events this is the
    # difference between shuffling the WAL and shuffling ~one row/key
    assert "partial_max_by" in p
    assert "Window" not in p, "fold must be an aggregation, not a window"


def test_mor_merge_single_exchange(spark, tmpdir_path):
    """The fused MoR claim: fold + bucket layout share one exchange.
    The plan is built with the merge's own fold-by-bucket helper, with
    and without the key salt that splits hot buckets."""
    from odibel_spark.lake.merge import _fold_by_bucket
    from odibel_spark.lake.table import BucketSpec

    src = spark.createDataFrame(
        [(1, "c1", 0, "user", "hi", None, None, False)],
        "_lsn long, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, _deleted boolean",
    )
    pre = src.withColumn("_bucket", BucketSpec("conv_id", 8).expr())
    for salt in (1, 2):
        p = plan(_fold_by_bucket(pre, 8, ["conv_id", "turn_idx"], salt))
        assert count_exchanges(p) == 1, (
            "bucket repartition must satisfy the groupBy distribution — a second "
            "exchange means Catalyst stopped accepting the bucket partitioning"
        )


def test_cow_merge_and_compaction_write_one_exchange(spark, tmpdir_path, monkeypatch):
    """A copy-on-write MERGE and a compaction are one bucket rewrite:
    the frame handed to the writer already carries ``_bucket`` (so the
    writer adds no repartition of its own) and holds exactly ONE
    exchange, which serves the target ∪ delta fold and the layout."""
    from pyspark.sql import types as T

    from odibel_spark.lake import BucketSpec, LakeTable, create_cdc_table, merge_upsert
    from odibel_spark.lake.merge import compact_buckets

    handed = []
    write = LakeTable._write_data_files

    def spy(self, df, *args, **kwargs):
        handed.append(df)
        return write(self, df, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "_write_data_files", spy)
    fields = [T.StructField("conv_id", T.StringType(), False),
              T.StructField("turn_idx", T.IntegerType(), False),
              T.StructField("text", T.StringType(), True)]
    keys = ["conv_id", "turn_idx"]
    batch = spark.createDataFrame(
        [(1, "insert", "c1", 0, "a"), (2, "insert", "c2", 0, "b"), (3, "delete", "c1", 0, None)],
        "lsn long, op string, conv_id string, turn_idx int, text string",
    )
    cow = create_cdc_table(spark, os.path.join(tmpdir_path, "cow"), fields, BucketSpec("conv_id", 4))
    mor = create_cdc_table(
        spark, os.path.join(tmpdir_path, "mor"), fields, BucketSpec("conv_id", 4),
        key_cols=keys, merge_mode="mor",
    )
    for t in (cow, mor):
        merge_upsert(t, batch, keys)
        merge_upsert(t, batch.withColumn("lsn", F.col("lsn") + 10), keys)
    handed.clear()
    merge_upsert(cow, batch.withColumn("lsn", F.col("lsn") + 20), keys)
    compact_buckets(mor)
    assert [("_bucket" in df.columns, count_exchanges(plan(df))) for df in handed] == [(True, 1)] * 2


def test_ivf_probe_prunes_scan(spark, sf_dir):
    p = plan(E.queries()["sim_topk"](spark, sf_dir))
    # label-list pruning is a broadcast semi-join against the probed
    # lists; the trained arm prunes with an isin filter instead
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    # the trained arm prunes with a literal isin filter on the cluster
    # column (partition-prunable when the table is laid out by cluster)
    from odibel_spark.functions.kmeans import kmeans_assign
    from odibel_spark.functions.similarity import ivf_top_k_trained

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    centers = [[1.0, 0.0], [0.0, 1.0]]
    pt = plan(ivf_top_k_trained(kmeans_assign(emb, centers, "vec_id", "embedding"),
                                centers, [1.0, 0.0], "vec_id", "embedding", nprobe=1))
    tree = pt.split("\n\n")[0]
    assert "Filter" in tree, "cluster pruning must be a scan-level Filter"
    assert "Exchange" not in tree, "trained-IVF probe must not shuffle"


def test_interval_marks_no_shuffle(spark, sf_dir):
    from odibel_spark.operators.temporal import interval_marks

    w = spark.createDataFrame([(0, 100)], "t_start long, t_end long")
    p = plan(interval_marks(w, step_s=10))
    assert "Exchange" not in p, "explode must stay partition-local"


def test_lsh_plan_construction_is_lazy(spark, sf_dir, monkeypatch):
    """Assembling the dedup/LSH pipelines with EXPLICIT knobs must not
    launch Spark jobs or force RDD conversion (each would cost a driver
    round-trip per pipeline assembly at scale): .first()/.collect()/
    .rdd are poisoned while the plans are built.

    The one documented exception is the ``collapse="auto"`` DEFAULT,
    which buys its arm choice with a single bounded probe
    (≤ COLLAPSE_PROBE_ROWS rows — a deliberate trade: one tiny job at
    assembly vs a 2.6–5× wrong-arm corpus pass, see
    BENCH/ab_lsh_{mass_dup,clean_corpus}.json). Callers who need
    fully-lazy assembly pass an explicit boolean, which is exactly what
    this test pins; the auto probe's own behavior is covered by
    test_collapse_auto_probe_picks_arm_and_preserves_pairs."""
    from pyspark.sql import DataFrame

    from odibel_spark.functions import dedup as D

    def _boom(*_a, **_kw):
        raise AssertionError("eager driver action during plan construction")

    monkeypatch.setattr(DataFrame, "first", _boom)
    monkeypatch.setattr(DataFrame, "collect", _boom)
    monkeypatch.setattr(DataFrame, "rdd", property(_boom))

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    plans = [
        D.minhash_lsh_candidates(docs, "doc_id", "text", n=2, k=8, bands=4, collapse=True),
        D.minhash_lsh_candidates(docs, "doc_id", "text", n=2, k=8, bands=4, collapse=False),
        D.minhash_near_duplicates(
            docs, "doc_id", "text", n=2, threshold=0.1, k=8, bands=4, collapse=True
        ),
        D.embedding_lsh_candidates(
            emb, "vec_id", "embedding", n_planes=16, bands=2, dim=64, collapse=True
        ),
    ]
    for df in plans:  # plan analysis itself must also stay action-free
        df.explain(mode="cost")


def test_similarity_edges_blocked_join_never_cartesian(spark):
    """Similarity-graph candidate generation must be an equi-join on
    the blocking key — a planner fallback to a nested-loop/cartesian
    product is the O(n²) global pairing the blocked design exists to
    prevent, invisible at fixture scale and fatal at 100 TB."""
    from odibel_spark.operators.similarity_graph import (
        PropertyComparator,
        build_similarity_edges,
    )

    vertices = spark.createDataFrame(
        [("v1", "dsA", {"name": "acme corp", "blk": "ac"}),
         ("v2", "dsB", {"name": "acme corporation", "blk": "ac"})],
        "id string, resource string, props map<string,string>",
    )
    p = plan(
        build_similarity_edges(
            vertices,
            [PropertyComparator("name", "levenshtein")],
            block_on="blk",
        )
    )
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Join" in p, "blocking must still be a join, not a filter rewrite"


def test_fingerprint_collapse_partial_agg(spark):
    """The mass-duplicate guard only works if the fingerprint collapse
    combines map-side: a partial-agg groupBy ships ~one row per DISTINCT
    document through the exchange, while a window (the pre-r3 shape)
    ships every duplicate's full text. Pinned: partial aggregation
    present, no Window operator."""
    from odibel_spark.functions.dedup import _fingerprint_collapse, document_fingerprint

    docs = spark.createDataFrame([(1, "same text"), (2, "same text")], "doc_id long, text string")
    members, rep_docs = _fingerprint_collapse(
        docs, "doc_id", "text", document_fingerprint(F.col("text"))
    )
    # rep_docs exposes the groupBy plan directly (members wraps it in a
    # scoped cache, whose formatted plan elides the cached subtree)
    p = plan(rep_docs)
    # any_value compiles to first() in the physical plan
    assert "partial_min" in p and ("partial_first" in p or "partial_any_value" in p)
    for df in (members, rep_docs):
        assert "Window" not in plan(df), "collapse regressed to a full-row window shuffle"


def test_incremental_lookup_never_cartesian(spark):
    """The incremental-dedup candidate stage must stay an equi-join on
    (band, bkey) against the index — a nested-loop fallback is the
    batch-×-corpus pairing the index exists to avoid."""
    from odibel_spark.functions.dedup_incremental import (
        incremental_near_duplicates,
        minhash_index,
    )

    corpus = spark.createDataFrame([(1, "alpha beta gamma delta")], "doc_id long, text string")
    new = spark.createDataFrame([(2, "alpha beta gamma epsilon")], "doc_id long, text string")
    idx = minhash_index(corpus, n=2, k=8, bands=4)
    p = plan(incremental_near_duplicates(new, idx, n=2, k=8, bands=4))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_packing_single_shuffle(spark):
    """pack_documents is one bucket shuffle feeding the Arrow greedy
    fold — a second exchange means the groupBy stopped accepting the
    bucket distribution."""
    from odibel_spark.functions.packing import pack_documents

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 40 + 1).alias("n_tokens")
    )
    p = plan(pack_documents(docs, "doc_id", "n_tokens", max_tokens=100, buckets=4))
    assert count_exchanges(p) == 1, p
    assert "FlatMapGroupsInPandas" in p


def test_sampler_related_expansion_broadcasts_seeds(spark):
    """Entity-sampler neighbor expansion must broadcast the (tiny) seed
    set into the adjacency scan — never shuffle-deduplicate the full
    symmetrized edge set just to pick a few neighbors. At 10^10 triples
    a table-wide dropDuplicates before the seed restriction is the
    dominant cost of the whole sampler. Pinned shape: the adjacency
    side reaches the join WITHOUT any exchange keyed on the raw edge
    pair (src/dst); dedup runs on the seed-scoped slice (keyed
    seed_entity/entity) above the broadcast join."""
    from odibel_spark.operators.sampling import related_entities, resource_adjacency

    triples = spark.createDataFrame(
        [("a", "p", "b", False), ("b", "p", "c", False), ("a", "lit", '"x"', True)],
        "s string, p string, o string, isLiteral boolean",
    )
    seeds = spark.createDataFrame([("a",)], "entity string")
    p = plan(related_entities(seeds, resource_adjacency(triples, deduplicate=False), 2, 7))
    assert "BroadcastHashJoin" in p
    assert "hashpartitioning(src" not in p, "full-edge dedup shuffle reappeared below the seed join"


def test_media_features_respect_byte_budget(spark):
    """extract_media_features re-spreads blob-heavy inputs to the byte
    budget BEFORE the Arrow exchange (plan-stats-derived — the docstring
    promise is pinned here), and skips the exchange when the input is
    already under budget or the budget is disabled."""
    from odibel_spark.functions.multimodal import attach_fake_media, extract_media_features

    media = attach_fake_media(spark.range(512).withColumnRenamed("id", "doc_id"), "doc_id")
    over = plan(extract_media_features(media, "doc_id", target_bytes_per_partition=1024))
    tree = over.split("\n\n")[0]
    assert "Exchange" in tree, "over-budget blobs must repartition before mapInPandas"
    under = plan(extract_media_features(media, "doc_id", target_bytes_per_partition=None))
    assert "Exchange" not in under.split("\n\n")[0]


def test_media_features_tolerate_statless_plans(spark):
    """RDD-backed inputs report sizeInBytes = Long.MaxValue ("unknown",
    not "huge"); the byte-budget re-spread must skip them instead of
    asking for ~1.4e11 partitions (which overflows repartition)."""
    from odibel_spark.functions.multimodal import extract_media_features

    rows = [(i, bytes([i % 251] * 64)) for i in range(10)]
    rdd_df = spark.sparkContext.parallelize(rows).toDF(["doc_id", "media"])
    out = extract_media_features(rdd_df, "doc_id").collect()
    assert len(out) == 10 and all(r.n_bytes == 64 for r in out)


def test_word_shingles_tokenizes_once_per_row(spark):
    """The shingle build's 9x fix (BENCH/ab_shingle_tokenize_w400.json)
    rests on two optimizer behaviors pinned here: the normalize+split
    tokenize stays in its OWN projection (CollapseProject declines to
    inline a non-cheap, multiply-referenced alias), so the Generate's
    transform lambda captures an attribute — if a Spark upgrade changes
    either rule, the tokenize silently re-runs once per array element
    and this test fails."""
    from odibel_spark.functions.dedup import word_shingles

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], "doc_id long, text string"
    )
    p = plan(word_shingles(docs, "doc_id", "text", 3))
    gen = next(s for s in p.split("\n\n") if s.startswith("(") and ") Generate" in s.split("\n")[0])
    assert "regexp_replace" not in gen, "tokenize inlined into the Generate lambda"
    projs = [s for s in p.split("\n\n") if s.startswith("(") and ") Project" in s.split("\n")[0]]
    assert any("split(" in s and "regexp_replace" in s for s in projs), (
        "tokenize must be materialized in its own projection"
    )


def test_text_profile_materializes_tokens_once(spark, sf_dir):
    """profile_documents must keep the token array in ONE inner
    projection: codegen CSE does not dedupe higher-order-function
    subtrees, so the naive per-function composition carried ~50
    regexp/split nodes and re-tokenized per metric (2.1x slower,
    measured). Pin the bounded expression count AND equality to the
    single-column composition it replaces."""
    import pyspark.sql.functions as SF

    from odibel_spark.functions import text as X

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    prof = X.profile_documents(docs, "doc_id", "text")
    p = prof._jdf.queryExecution().executedPlan().toString()
    assert p.count("regexp_replace") <= 10, "tokens subtree duplicated again"

    naive = docs.select(
        "doc_id",
        X.token_count(SF.col("text")).alias("n_tokens"),
        X.bpe_ish_token_count(SF.col("text")).alias("n_bpe_tokens"),
        SF.length("text").alias("n_chars_actual"),
        X.punct_ratio(SF.col("text")).alias("punct_ratio"),
        X.stopword_ratio(SF.col("text")).alias("stopword_ratio"),
        X.quality_score(SF.col("text")).alias("quality"),
        X.language_id(SF.col("text")).alias("lang_pred"),
        X.document_fingerprint(SF.col("text")).alias("fp"),
    )
    assert prof.exceptAll(naive).count() == 0 and naive.exceptAll(prof).count() == 0


def test_lake_range_read_pushes_residual_filter_to_scan(spark, tmp_path):
    """read(where_ranges=) is two-layer pruning: the manifest layer
    skips whole files (pinned in test_lake), and the residual row
    filter must reach the parquet scan as PushedFilters so the
    surviving files' row groups prune too — file-granular bounds keep
    out-of-range rows in every kept file, and a post-scan Filter alone
    would read them all at 100 TB."""
    from pyspark.sql import types as T

    from odibel_spark.lake import BucketSpec, create_cdc_table

    t = create_cdc_table(
        spark, str(tmp_path / "lrp"),
        [T.StructField("conv_id", T.StringType(), False),
         T.StructField("turn_idx", T.IntegerType(), False)],
        BucketSpec("conv_id", 2), key_cols=["conv_id", "turn_idx"],
    )
    schema = "conv_id string, turn_idx int, _lsn long, _deleted boolean"
    for lsns in ([1, 2], [50, 60]):
        t.append(spark.createDataFrame(
            [("c", i, l, False) for i, l in enumerate(lsns)], schema))
    p = plan(t.read(where_ranges={"_lsn": (40, None)}))
    assert "PushedFilters: [IsNotNull(_lsn), GreaterThanOrEqual(_lsn,40)" in p


def test_one_bucket_fold_read_needs_no_exchange(spark, tmp_path):
    """A merge-on-read key lookup reads one bucket (bucket-transform
    pruning); when that bucket's files fit one scan split the fold runs
    on a single partition: partial and final aggregates back to back,
    no Exchange. A two-bucket fold read, or a one-bucket read larger
    than ``spark.sql.files.maxPartitionBytes``, keeps the shuffle."""
    from odibel_spark.lake.merge import create_cdc_table, merge_upsert
    from odibel_spark.lake.table import BucketSpec
    from pyspark.sql import types as T

    t = create_cdc_table(
        spark, str(tmp_path / "t"),
        [T.StructField("conv_id", T.StringType()), T.StructField("turn_idx", T.IntegerType()),
         T.StructField("text", T.StringType())],
        BucketSpec("conv_id", 4), key_cols=["conv_id", "turn_idx"], merge_mode="mor",
    )
    for i in range(3):
        src = spark.createDataFrame(
            [(f"c{j}", j % 3, f"t{i}", i * 100 + j, "insert") for j in range(20)],
            "conv_id string, turn_idx int, text string, lsn long, op string",
        )
        merge_upsert(t, src, ["conv_id", "turn_idx"])

    lookup = t.read(where_ranges={"conv_id": ("c3", "c3")})
    p = plan(lookup)
    assert count_exchanges(p) == 0 and "Coalesce (" in p and "partial_max_by" in p
    assert len({f.split("/_bucket=")[1].split("/")[0] for f in lookup.inputFiles()}) == 1
    assert [tuple(r) for r in lookup.collect()] == [("c3", 0, "t2", 203)]

    two = sorted({f["bucket"] for f in t.files()})[:2]
    assert count_exchanges(plan(t.read(buckets=set(two)))) == 1
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        assert count_exchanges(plan(t.read(where_ranges={"conv_id": ("c3", "c3")}))) == 1
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
