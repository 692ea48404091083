"""Plan-property regression tests: the physical plans the 100 TB design
depends on must not silently degrade (pushdown, broadcast joins,
WindowGroupLimit).  See PERF.md."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from dataclass_array_spark.workload import QUERIES
from tests.conftest import PYTHON_PLAN_NODES

SF = "/root/testdata/sf0.001"


def plan(spark, name):
    buf = io.StringIO()
    with redirect_stdout(buf):
        QUERIES[name].fn(spark, SF).explain("formatted")
    return buf.getvalue()


def test_q6_filters_pushed(spark):
    p = plan(spark, "q6_forecast_revenue")
    assert "PushedFilters: [" in p and "PushedFilters: []" not in p


def test_star_joins_broadcast(spark):
    for q in ("q3_shipping_priority", "q5_local_supplier_volume", "q10_returned_items"):
        assert "BroadcastHashJoin" in plan(spark, q), q


def test_topk_window_group_limit(spark):
    assert "WindowGroupLimit" in plan(spark, "topk_orders_per_segment")


def test_scan_column_pruning(spark):
    # q6 touches 4 lineitem columns; the scan must not read all 11
    p = plan(spark, "q6_forecast_revenue")
    rs = [l for l in p.splitlines() if "ReadSchema" in l]
    assert rs and "l_returnflag" not in rs[0] and "l_quantity" in rs[0]


def test_decontam_broadcasts_eval_side(spark):
    p = plan(spark, "decontam_ngram_overlap")
    assert "BroadcastHashJoin" in p
    # corpus side must not sort-merge join
    assert "SortMergeJoin" not in p


def test_repetition_metrics_no_shuffle(spark):
    # pure in-scan expressions: the only exchanges allowed are the
    # spread() repartition and the final orderBy range partitioning
    p = plan(spark, "repetition_filter_docs")
    import re
    kinds = re.findall(r"Exchange (\w+)", p)
    assert all(k in ("RoundRobinPartitioning", "rangepartitioning") for k in kinds), kinds
    assert "MapInPandas" not in p and "MapInArrow" not in p and "BatchEvalPython" not in p


def test_mixture_sample_broadcasts_rates(spark):
    p = plan(spark, "domain_mixture_sample")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_kmeans_assignment_no_join(spark):
    from pyspark.sql import functions as F
    from dataclass_array_spark.operators.clustering import _argmin_cluster

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = [[0.0] * 64, [1.0] * 64]
    df = e.select(
        "vec_id",
        _argmin_cluster(F.col("embedding").cast("array<double>"), cents).alias("a"),
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    # assignment is expression-only: no join, no exchange, no python
    assert "Join" not in p and "Exchange" not in p
    assert "MapInPandas" not in p and "MapInArrow" not in p and "BatchEvalPython" not in p


def test_ivf_assignment_no_shuffle(spark):
    # round-3 VERDICT "What's wrong #1": corpus cell assignment must be
    # no shuffle (an Arrow probe in the scan stage), not a cross-join +
    # window — at 100 TB that was a corpus-wide shuffle.
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F
    from dataclass_array_spark.operators.similarity import assign_cells, norm2

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = (
        e.orderBy("vec_id")
        .limit(4)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").cast("array<double>").alias("cent_v"),
            norm2(F.col("embedding")).alias("cent_n2"),
        )
        .collect()
    )
    for nprobe in (1, 3):
        df = assign_cells(e, "vec_id", "embedding", cents, nprobe=nprobe)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
        assert "Exchange" not in p and "Join" not in p, f"nprobe={nprobe}"
        assert "ArrowEvalPython" in p, f"nprobe={nprobe}"
        assert "MapInPandas" not in p and "MapInArrow" not in p and "BatchEvalPython" not in p


def test_ivf_topk_single_candidate_shuffle(spark):
    # full operator: queries broadcast onto the corpus cells, no
    # sort-merge join / cartesian; the only shuffle partitions the
    # CANDIDATE set by qid (plus the final presentation orderBy).
    import re

    from pyspark.sql import functions as F
    from dataclass_array_spark.operators.similarity import ivf_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3)
    df = ivf_topk(q, e, "vec_id", "vec_id", "embedding", n_centroids=4, nprobe=2, k=3)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    shuffles = re.findall(r"Exchange hashpartitioning\((\w+)", p)
    assert all(s.startswith("qid") for s in shuffles), shuffles


def test_q15_max_join_broadcasts(spark):
    # scalar-max side must broadcast; supplier dim join must broadcast
    p = plan(spark, "q15_top_supplier")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "PushedFilters: [" in p  # shipdate range reaches the scan


def test_q13_no_cartesian(spark):
    p = plan(spark, "q13_customer_distribution")
    assert "CartesianProduct" not in p


def test_tpch3_dims_broadcast(spark):
    # q2/q11/q16/q20: every dimension side broadcasts; lineitem must
    # never sort-merge against a dim and never cartesian.
    for q in (
        "q2_min_cost_supplier",
        "q11_important_parts",
        "q16_supplier_counts",
        "q20_promotion_suppliers",
    ):
        p = plan(spark, q)
        assert "BroadcastHashJoin" in p, q
        assert "CartesianProduct" not in p, q


def _no_broadcast_conf(spark):
    """Context manager: disable size-based broadcast (threshold -1) and
    AQE so the static physical plan shows exactly what a too-big-to-
    broadcast side degrades to.  Hints OVERRIDE the threshold, so any
    BroadcastHashJoin that survives under this conf is a forced one."""
    from contextlib import contextmanager

    @contextmanager
    def cm():
        saved = {
            k: spark.conf.get(k)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.enabled",
            )
        }
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            yield
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    return cm()


def test_lm_quality_vocab_join_degrades_gracefully(spark):
    """Round-12 scale fix: corpus-derived vocab/frequency/ln tables grow
    with corpus size (Heaps' law), so their equi-join-backs must carry
    NO forced broadcast hint — a hint forces BroadcastHashJoin
    regardless of size (8 GB limit / driver OOM at 100 TB).  With the
    broadcast threshold at -1, every unhinted equi join must degrade to
    SortMergeJoin; only the bounded-by-construction one-row scalar
    sides (vocab total V, ln V) may still broadcast, and those are
    cross joins (BroadcastNestedLoopJoin), not hash joins.  The 20-term
    ln series must also stay JVM-side (no Python eval anywhere)."""
    with _no_broadcast_conf(spark):
        for q in ("lm_quality_docs", "token_rarity_docs", "bigram_lm_docs",
                  "bigram_lm_heldout_docs"):
            p = plan(spark, q)
            assert "BroadcastHashJoin" not in p, (q, p)
            assert "CartesianProduct" not in p, q
            assert "MapInPandas" not in p and "MapInArrow" not in p and "BatchEvalPython" not in p, q


def test_bounded_vocab_keeps_broadcast_hint(spark):
    """Counterpart: tokenize_with_vocab's vocab is USER-SUPPLIED and
    BPE-scale (~100k rows, bounded by construction) — its hint must
    survive a disabled threshold, keeping the map a broadcast hash join
    with zero shuffle on the token side."""
    from dataclass_array_spark.operators.text import tokenize_with_vocab, tokens
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{SF}/documents.parquet")
    vocab = (
        d.select(F.explode(tokens(F.col("text"))).alias("t"))
        .distinct().limit(100)
        .select("t", F.monotonically_increasing_id().alias("tid"))
    )
    with _no_broadcast_conf(spark):
        out = tokenize_with_vocab(d, "text", "doc_id", vocab)
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        assert "BroadcastHashJoin" in buf.getvalue()


def test_shape_vectorize_stays_jvm_side(spark):
    # the comparison + boolean-sum body must tier-1-trace to Catalyst
    # (size(filter(...))) — the per-row Arrow loop is banned here
    import warnings

    from dataclass_array_spark.vectorize import VectorizeFallbackWarning

    with warnings.catch_warnings():
        warnings.simplefilter("error", VectorizeFallbackWarning)
        p = plan(spark, "shape_vectorize")
    assert not any(m in p for m in PYTHON_PLAN_NODES)


def test_minhash_band_shuffle_carries_no_shingles(spark):
    """Round-7 scale fix: the ×bands band-bucket exchange must carry
    (doc_id, band, sig) only — the shingle ARRAYS reach the verify step
    via a single per-side equi-join-back (sh_a/sh_b), never through the
    band explode.  A regression that re-attaches `shingles` to the
    banded frame multiplies the candidate-join shuffle payload by
    `bands` at 100 TB."""
    import re

    for q in ("dedup_minhash_lsh", "dedup_minhash_lsh_auto"):
        p = plan(spark, q)
        # every Exchange/BroadcastExchange node section: if it moves the
        # banded frame (band + sig attributes), its input set must not
        # include the shingles array
        for sect in re.split(r"\n\n", p):
            first = sect.strip().splitlines()[0] if sect.strip() else ""
            if "Exchange" not in first:
                continue
            inp = "\n".join(l for l in sect.splitlines() if l.startswith("Input"))
            # no exchange may move the array under its banding name at
            # all (the verify copies are the renamed sh_a/sh_b, shipped
            # once per side); in particular the banded (band, sig)
            # exchange stays fixed-width
            assert "shingles#" not in inp, (q, sect)


def test_pq_encode_no_shuffle(spark):
    # PQ encoding is the compression pass a 100 TB corpus runs once:
    # it must stay a narrow in-scan projection (either the unrolled
    # argmin expression or one ArrowEvalPython node), never a join or
    # a shuffle.
    from dataclass_array_spark.operators.pq import pq_encode, pq_fit

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cbs = pq_fit(e, "vec_id", "embedding", dim=64, m=4, codes=4, iters=1,
                 train_limit=50)
    df = pq_encode(e, "vec_id", "embedding", cbs)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "Exchange" not in p and "Join" not in p
    assert "MapInPandas" not in p and "MapInArrow" not in p and "BatchEvalPython" not in p


def test_pq_topk_broadcast_and_single_qid_shuffle(spark):
    # ADC scoring: queries broadcast (nested-loop — there is no equi
    # key), the encoded corpus side never moves, and the only hash
    # shuffle partitions candidates by qid for the top-k window.
    import re

    from pyspark.sql import functions as F
    from dataclass_array_spark.operators.pq import pq_fit, pq_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cbs = pq_fit(e, "vec_id", "embedding", dim=64, m=4, codes=4, iters=1,
                 train_limit=50)
    q = e.filter(F.col("vec_id") < 3)
    df = pq_topk(q, e, "vec_id", "vec_id", "embedding", cbs, k=3,
                 exclude_self=True)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p
    shuffles = re.findall(r"Exchange hashpartitioning\((\w+)", p)
    assert all(s.startswith("qid") for s in shuffles), shuffles


def test_ivf_pq_fused_scan_no_extra_shuffle(spark):
    # IVF-PQ: cell assignment + PQ encoding fuse into ONE corpus scan
    # projection (no exchange between them), the search join on cell is
    # a broadcast hash join (queries are the small side), and the only
    # hash shuffle partitions candidates by qid for the top-k window.
    import re

    from pyspark.sql import functions as F
    from dataclass_array_spark.operators.pq import ivf_pq_topk, pq_fit

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cbs = pq_fit(e, "vec_id", "embedding", dim=64, m=4, codes=4, iters=1,
                 train_limit=50)
    q = e.filter(F.col("vec_id") < 3)
    df = ivf_pq_topk(q, e, "vec_id", "vec_id", "embedding", cbs,
                     n_centroids=4, nprobe=2, k=3)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    shuffles = re.findall(r"Exchange hashpartitioning\((\w+)", p)
    assert all(s.startswith("qid") for s in shuffles), shuffles


def test_linkage_blocking_is_equi_join(spark):
    """Record linkage must candidate-generate through a HASH join on
    the block key — a cartesian/nested-loop here is the all-pairs
    failure the blocking exists to prevent."""
    p = plan(spark, "linkage_part_entities")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Join" in p  # the block-key equi-join survives optimization


def test_kcore_no_cartesian(spark):
    """Every k-core peel round is degree-agg + two semi joins on the
    node id; no round may degrade to a nested-loop join.  The gate
    frame's plan is truncated by the per-round pin, so one round is
    rebuilt here un-pinned (same expressions as graph.k_core's loop)
    to inspect the full lineage."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    p = plan(spark, "kcore_user_states")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    und = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select(
            F.col("user_id").alias("u"),
            (F.lit(1000000)
             + F.get_json_object(F.col("props"), "$.k").cast("long")).alias("v"),
        )
        .filter(F.col("v").isNotNull())
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    keep = deg.filter(F.col("deg") >= 45).select("node")
    nxt = (
        und.join(keep.withColumnRenamed("node", "u"), on="u", how="semi")
        .join(keep.withColumnRenamed("node", "v"), on="v", how="semi")
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        nxt.explain("formatted")
    round_plan = buf.getvalue()
    assert "LeftSemi" in round_plan
    assert "CartesianProduct" not in round_plan
    assert "BroadcastNestedLoopJoin" not in round_plan


def test_mad_outliers_medians_broadcast_back(spark):
    """The per-group median/MAD frames are dimension-sized (one row
    per group) and must join back BROADCAST — a shuffle join on the
    group key would re-shuffle the full fact table twice."""
    p = plan(spark, "outlier_mad_quantity")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_two_level_assignment_plan_shape(spark):
    """kmeans_assign_two_level's physical plan must keep the 100 TB
    shape: per-cell sample via WindowGroupLimit (map-side limit before
    the cell exchange), per-cell Lloyd as ONE FlatMapGroupsInArrow,
    final argmin as an ArrowEvalPython over a hash join — never a
    cartesian."""
    import io
    from contextlib import redirect_stdout

    from dataclass_array_spark.operators.clustering import (
        kmeans_assign_two_level,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = kmeans_assign_two_level(
        e, "vec_id", "embedding", k_coarse=3, iters=2,
        target_cluster_size=32, coarse_train_limit=128, fine_train_limit=64,
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p
    assert "WindowGroupLimit" in p        # bounded per-cell sample
    # one fine-training pass (formatted explain prints each node twice:
    # once in the tree, once in the detail section)
    assert p.count("FlatMapGroupsInArrow") == 2
    assert "ArrowEvalPython" in p         # matrix argmin, not per-row python
    assert "BroadcastNestedLoopJoin" not in p


def test_winsorize_quantiles_broadcast_back(spark):
    """Like the MAD screen: per-group quantile frames are dimension-
    sized and must broadcast back onto the fact table."""
    p = plan(spark, "winsorize_price_stats")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_zorder_key_is_pure_expression(spark):
    """The Morton key must be codegen'd column arithmetic — no Python
    UDF, no extra shuffle beyond the gate's final orderBy (the
    bit-interleave is shift/AND/OR folds evaluated in the scan
    stage)."""
    p = plan(spark, "zorder_orders_layout")
    assert "BatchEvalPython" not in p and "MapInPandas" not in p and "MapInArrow" not in p
    # the interleave shows up as shift/AND/OR expression trees in a
    # Project — proof the key is computed scan-side, not in Python
    assert "shiftleft" in p and "FLOOR" in p


def test_write_zordered_range_partitions(spark):
    """A Z-order layout's shuffle is a single RangePartitioning on
    the key — the same exchange any total-order sort pays."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from dataclass_array_spark.operators.layout import zorder_key

    o = spark.read.parquet(f"{SF}/orders.parquet")
    key, _ = zorder_key(o, ["o_custkey", "o_orderkey"], bits=8)
    laid = o.withColumn("_zkey", key).repartitionByRange(8, "_zkey")
    buf = io.StringIO()
    with redirect_stdout(buf):
        laid.explain("formatted")
    p = buf.getvalue()
    assert "rangepartitioning(_zkey" in p.lower(), p
    assert "hashpartitioning" not in p.lower()
    # exactly one physical Exchange node ("(N) Exchange" detail line)
    import re

    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_bigram_lm_join_shapes(spark):
    """The bigram-LM scorer: the prefix/vocab tables join broadcast,
    the bigram-typed LM table carries NO forced broadcast hint (at
    corpus scale it must be shuffle-joinable — AQE may still pick
    broadcast at test sizes, so the assertion is on the ABSENCE of a
    cartesian product and on the hinted sides only), and the only
    cross joins are the one-row scalar broadcasts (V / ln V)."""
    import io
    from contextlib import redirect_stdout

    from dataclass_array_spark.operators.text import bigram_xent_scores_heldout

    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = bigram_xent_scores_heldout(d.limit(200), d.limit(300), "text", "doc_id")
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue().lower()
    assert "cartesianproduct" not in p, p
    # the scalar cross joins must be broadcast nested loop (one-row sides)
    assert "broadcastnestedloopjoin" in p, p


def test_sketch_plans(spark):
    """Sketch plan shapes: count-min lookup broadcasts the sketch side
    (it is <= depth*width rows by construction); the HLL estimate is
    two hash aggregations with no join at all."""
    from dataclass_array_spark.operators.sketch import (
        countmin_build,
        countmin_lookup,
        hll_distinct,
    )
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("t")
    )
    sk = countmin_build(d, "t", 4, 256)
    out = countmin_lookup(sk, d.select("t").distinct(), "t", 4, 256)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue().lower()
    assert "broadcasthashjoin" in p, p
    assert "cartesianproduct" not in p

    e = spark.read.parquet(f"{SF}/events.parquet")
    buf = io.StringIO()
    with redirect_stdout(buf):
        hll_distinct(e, ["event_type"], "user_id").explain("formatted")
    p = buf.getvalue().lower()
    assert "join" not in p, p
    assert p.count("exchange hashpartitioning") <= 2, p


def test_bpe_encode_plan_shapes(spark):
    """BPE encode: everything JVM-side (folds + one join), no Python
    eval, no cartesian product, and the word→segmentation join carries
    no forced broadcast hint (both sides corpus-derived — the round-12
    vocab-join rule)."""
    p = plan(spark, "bpe_encode_docs")
    assert "MapInPandas" not in p and "MapInArrow" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    from dataclass_array_spark.workload import QUERIES as _Q

    logical = _Q["bpe_encode_docs"].fn(spark, SF)._jdf.queryExecution()
    assert "ResolvedHint" not in logical.analyzed().toString()


def test_salted_zipf_agg_fan_out(spark):
    """The zipf skew gate's stage-1 aggregate must group on
    (zb, __salt) — the hot-bucket fan-out — and stage 2 on zb alone:
    two distinct hash exchanges, salt first."""
    import re

    p = plan(spark, "skew_zipf_salted_agg")
    ex = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    salted = [e for e in ex if "__salt" in e and "zb" in e]
    plain = [e for e in ex if "__salt" not in e and "zb" in e]
    assert salted and plain, ex


def test_aqe_skew_join_split_engages(spark, tmp_path):
    """Round-12 VERDICT item 5: prove AQE's skew-join path actually
    fires on a zipf-style hot key (uniform TPC-H keys never trip it).
    99.9% of the fact rows share one key; with broadcast disabled, the
    SMJ partition for that key exceeds the (lowered) skew threshold
    and AQE must mark the join skew=true in the FINAL adaptive plan.

    Fixture subtleties this test encodes (each one a silent
    no-skew-detected otherwise):
    - the dim side is a PLAIN parquet scan — a post-shuffle aggregate
      between the Sort and the shuffle stage breaks OptimizeSkewedJoin's
      SMJ(Sort(Shuffle), Sort(Shuffle)) pattern match;
    - the fact side has MULTIPLE map tasks — skewed partitions split at
      mapper boundaries, so a single-mapper shuffle can never split;
    - the executed query must KEEP the payload column through the join
      (sum(payload) here) — a bare count() prunes it and the key-only
      shuffle compresses below any realistic skew threshold;
    - the final plan is read from the EXECUTED DataFrame's own
      QueryExecution (a derived action runs a separate, unexecuted
      plan on the original frame)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1MB",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 4_000_000, 1, 16).select(
            F.when(F.col("id") % 1000 == 0, F.col("id"))
            .otherwise(F.lit(0))
            .alias("zb"),
            (F.rand(7) * 1000).alias("payload"),
        )
        fact.select("zb").distinct().withColumn(
            "w", F.col("zb") * 2
        ).write.parquet(str(tmp_path / "dim"))
        dim = spark.read.parquet(str(tmp_path / "dim"))
        agg = fact.join(dim, "zb").agg(
            F.count("*").alias("n"), F.sum("payload").alias("s")
        )
        row = agg.collect()[0]
        assert row["n"] == 4_000_000
        p = agg._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in p, p[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bpe_pair_agg_map_side_combined(spark):
    """The per-round pair-count aggregation must be a two-phase hash
    aggregate (partial before the exchange) — at 100 TB the shuffle
    carries pair TYPES per task, not pair instances — and the merge
    application must stay JVM-side (no Python eval)."""
    from pyspark.sql import functions as F

    from dataclass_array_spark.operators.bpe import (
        _apply_merge_batch,
        _init_symbols,
        _word_counts,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    sym = _init_symbols(_word_counts(d, "text"))
    sym = sym.select(
        "wid",
        "cnt",
        _apply_merge_batch(F.col("syms"), [("e", "r")]).alias("syms"),
    )
    pair_arr = F.when(
        F.size("syms") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(
                F.element_at(F.col("syms"), i).alias("l"),
                F.element_at(F.col("syms"), i + F.lit(1)).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    pairs = (
        sym.select("cnt", F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.l"), F.col("p.r"))
        .agg(F.sum("cnt").alias("total"))
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        pairs.explain("formatted")
    p = buf.getvalue()
    assert "BatchEvalPython" not in p and "MapInPandas" not in p and "MapInArrow" not in p
    # two HashAggregates around one exchange = partial + final
    import re

    aggs = len(re.findall(r"\(\d+\) HashAggregate", p))
    exch = len(re.findall(r"\(\d+\) Exchange", p))
    assert aggs >= 2 and exch >= 1, (aggs, exch)


def test_classifier_weights_broadcast_and_jvm_only(spark):
    """The classifier's weight table is model-sized (bounded by the
    declared nbuckets), so its broadcast hint must survive even with
    the auto threshold disabled (the legal-hint side of the round-12
    vocab-join rule), and the whole op must stay JVM-side (no
    Python/Arrow eval in the plan)."""
    from dataclass_array_spark.operators.classifier import (
        classifier_score,
        hash_weights,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    with _no_broadcast_conf(spark):
        out = classifier_score(
            d, hash_weights(spark, 1024), "text", "doc_id", 1024
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        p = buf.getvalue()
    assert "BroadcastHashJoin" in p, p
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF", "MapInPandas", "MapInArrow"):
        assert marker not in p, marker


def test_dsir_delta_broadcast_and_jvm_only(spark):
    """DSIR's per-bucket delta table is CAPPED at nbuckets rows (the
    range side bounds the joins), so its broadcast hint must survive a
    disabled auto threshold; the scored corpus must never sort-merge
    join, and the whole plan stays JVM-side."""
    from dataclass_array_spark.operators.classifier import dsir_log_weights

    d = spark.read.parquet(f"{SF}/documents.parquet")
    t = d.limit(100)
    with _no_broadcast_conf(spark):
        out = dsir_log_weights(t, d, d, "text", "doc_id", 512)
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        p = buf.getvalue()
    assert "BroadcastHashJoin" in p, p
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF", "MapInPandas", "MapInArrow"):
        assert marker not in p, marker


def test_grouped_ntile_no_single_task_group_sort(spark):
    """The ccnet bucket gate must rank through the two-phase path: its
    executed plan's window specs partition by (spark_partition_id,
    group), never by the low-cardinality group alone (which would be a
    corpus-sized single-task sort per language at 100 TB)."""
    import re

    p = plan(spark, "ccnet_buckets_docs")
    assert "__pid" in p, p  # the two-phase partition-id column
    # no window partitioned by lang alone
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", p):
        head = [s.strip().split("#")[0] for s in spec.split(",")[:2]]
        assert head[:1] != ["lang"], spec


def test_blocklist_phrases_broadcast_and_jvm_only(spark):
    """The blocklist phrase table is user-supplied and bounded by
    construction (the BPE-user-vocab rule), so its broadcast hint must
    survive a disabled auto threshold; the whole op stays JVM-side."""
    from dataclass_array_spark.operators.blocklist import blocklist_matches

    d = spark.read.parquet(f"{SF}/documents.parquet")
    with _no_broadcast_conf(spark):
        out = blocklist_matches(d, "text", "doc_id", ["hash join", "dup"])
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        p = buf.getvalue()
    assert "BroadcastHashJoin" in p, p
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF", "MapInPandas", "MapInArrow"):
        assert marker not in p, marker


def test_cap_per_key_window_group_limit(spark):
    """cap_per_key's rank<=cap filter must reach WindowGroupLimit so
    the shuffle carries at most cap rows per (task, key) — the
    map-side top-k pushdown the 100 TB per-domain quota depends on."""
    p = plan(spark, "domain_cap_docs")
    assert "WindowGroupLimit" in p, p


def test_classifier_fit_gradient_plan_shapes(spark):
    """One training iteration's gradient job: the weight lookup joins
    BROADCAST (model-sized, hint must survive a disabled auto
    threshold), the bucket gradient is a partial_sum-combined
    hash aggregation (map-side combine before the nbuckets-row
    exchange), and the whole iteration stays JVM-side."""
    from dataclass_array_spark.operators.classifier import (
        feature_bucket,
        ngram_features,
    )
    from dataclass_array_spark.operators.text import exp_exact

    d = spark.read.parquet(f"{SF}/documents.parquet")
    inst = d.select(
        F.col("doc_id").alias("__id"),
        (F.col("lang") == "en").cast("double").alias("__y"),
        F.explode(ngram_features(F.col("text"))).alias("__f"),
    ).select(
        "__id", "__y", feature_bucket(F.col("__f"), 256).alias("bucket")
    )
    wdf = spark.createDataFrame(
        [(b, 0) for b in range(256)], "bucket long, __ws long"
    )
    with _no_broadcast_conf(spark):
        per_doc = (
            inst.join(F.broadcast(wdf), "bucket", "left")
            .groupBy("__id")
            .agg(
                F.first("__y").alias("__y"),
                F.count("*").cast("long").alias("__n"),
                F.sum("__ws").cast("long").alias("__dot"),
            )
        )
        margin = (
            F.col("__dot").cast("double") / F.lit(1.0e9)
        ) / F.col("__n").cast("double")
        p_ = F.lit(1.0) / (F.lit(1.0) + exp_exact(-margin))
        rq = per_doc.select(
            "__id",
            F.floor(
                ((p_ - F.col("__y")) / F.col("__n").cast("double"))
                * F.lit(1.0e15)
            ).cast("long").alias("__rq"),
        )
        grad = (
            inst.join(rq, "__id")
            .groupBy("bucket")
            .agg(F.sum(F.col("__rq").cast("decimal(38,0)")).alias("__g"))
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            grad.explain("formatted")
        p = buf.getvalue()
    assert "BroadcastHashJoin" in p, p
    assert "partial_sum" in p, p  # map-side-combined bucket gradient
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF", "MapInPandas", "MapInArrow"):
        assert marker not in p, marker


def test_classifier_fit_copartitioned_iteration(spark):
    """Round-15 optimization: classifier_fit persists its instance
    table hash-partitioned by __id and (for small models) attaches the
    weight vector as an array literal.  One training iteration's plans
    must then show (a) NO exchange between the cached instance scan
    and the per-doc dot aggregation (the cached partitioning satisfies
    the groupBy's clustering), (b) no join for the weight lookup, and
    (c) the bucket-gradient exchange still map-side combined."""
    from dataclass_array_spark.operators.classifier import (
        feature_bucket,
        ngram_features,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    inst = d.select(
        F.col("doc_id").alias("__id"),
        (F.col("lang") == "en").cast("double").alias("__y"),
        F.explode(ngram_features(F.col("text"))).alias("__f"),
    ).select(
        "__id", "__y", feature_bucket(F.col("__f"), 256).alias("bucket")
    )
    inst = inst.repartition("__id").persist()
    try:
        inst.count()
        warr = F.lit([0] * 256)
        wexpr = F.element_at(warr, F.col("bucket").cast("int") + 1)
        per_doc = inst.groupBy("__id").agg(
            F.first("__y").alias("__y"),
            F.count("*").cast("long").alias("__n"),
            F.sum(wexpr.cast("decimal(38,0)")).cast("long").alias("__dot"),
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            per_doc.explain("formatted")
        pd_plan = buf.getvalue()
        # per-doc dot: cached scan feeds the aggregate with no shuffle
        # and no join (array-literal weight lookup).  Only the tree
        # ABOVE the InMemoryTableScan counts — the cached relation's
        # own body legitimately contains the one upfront repartition.
        assert "InMemoryTableScan" in pd_plan, pd_plan
        outer = pd_plan.split("InMemoryTableScan")[0]
        assert "Exchange" not in outer, pd_plan
        assert "Join" not in outer, pd_plan
        rq = per_doc.select(
            "__id",
            F.floor(
                (F.col("__dot").cast("double") / 1e9) * 1e15
            ).cast("long").alias("__rq"),
        )
        grad = (
            inst.join(rq, "__id")
            .groupBy("bucket")
            .agg(F.sum(F.col("__rq").cast("decimal(38,0)")).alias("__g"))
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            grad.explain("formatted")
        g_plan = buf.getvalue()
        assert "partial_sum" in g_plan, g_plan  # map-side-combined gradient
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow"):
            assert marker not in g_plan, marker
    finally:
        inst.unpersist()


def test_pack_ffd_single_exchange_per_bucket_fold(spark):
    """FFD packing's plan: exactly ONE exchange (hash by bucket) feeds
    the per-bucket applyInArrow fold — the sequential algorithm runs
    inside FlatMapGroupsInArrow tasks, never through extra shuffles
    or a global sort."""
    from dataclass_array_spark.operators.packing import pack_sequences_ffd
    from dataclass_array_spark.operators.text import token_count

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", token_count(F.col("text")).alias("n")
    )
    out = pack_sequences_ffd(d, "doc_id", "n", 256, nbuckets=8)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    import re

    assert "FlatMapGroupsInArrow" in p, p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    # the only Sort is the grouping's WITHIN-partition sort (global
    # flag false) — never a global sort
    for args in re.findall(r"\(\d+\) Sort[^\n]*\nInput[^\n]*\nArguments: (.*)", p):
        assert ", false, " in args, args


def _view_chain_plan(spark, tail):
    """The formatted physical plan of ``tail`` applied to a 4x6 batch
    whose base frame is a ``range`` source, and its node names."""
    import re

    import dataclass_array_spark as das
    from dataclass_array_spark.core.schema import f32
    from dataclass_array_spark.core.table import ROWID

    class V(das.DcaTable):
        v: f32

    src = spark.range(24).select(F.col("id").alias(ROWID), F.col("id").cast("float").alias("v"))
    t = V.from_df(src, shape=(4, 6), validate=False)
    buf = io.StringIO()
    with redirect_stdout(buf):
        tail(t).df.explain("formatted")
    p = buf.getvalue()
    return re.findall(r"^\(\d+\) (\w+)", p, re.M), p


def test_view_chain_is_one_filter_and_one_project(spark):
    """slice∘einops∘slice is one strided view: its frame is one Filter and
    one Project over the source, with no join and no shuffle."""
    nodes, p = _view_chain_plan(spark, lambda t: t[1:, ::2].reshape("a b -> b a")[1:])
    assert nodes.count("Filter") == 1 and nodes.count("Project") == 1, p
    assert not [n for n in nodes if "Join" in n or n == "Exchange"], p


def test_view_chain_to_broadcast_is_one_join(spark):
    """A chain that ends in broadcast_to repeats each kept source row with
    one ``posexplode`` per broadcast dim (two Generates here: a new
    leading dim and a size-1 dim), and joins nothing (it was one
    ``range(size) ⋈ base`` join; the name is kept); the slices before it
    add no node of their own."""
    nodes, p = _view_chain_plan(
        spark, lambda t: t[1:, ::2].reshape("a b -> b a")[1:, :1].broadcast_to((2, 2, 3))
    )
    assert nodes.count("Generate") == 2, p
    assert not [n for n in nodes if "Join" in n or n == "Exchange"], p


def test_benchmark_shape_chain_is_one_scan(spark):
    """The benchmark's chain shape — reshape, einops, two slices, concat,
    stack, mask, gather, slice, broadcast_to — is one view of its base:
    one source scan, no Union, at most one BroadcastExchange (the
    mask∘gather index table) and no SortMergeJoin."""
    import numpy as np

    import dataclass_array_spark as das

    def chain(t):
        e = t.reshape("a b -> b a")
        c = das.concat([e[::2, 1:3], e[1::2, 1:3]])
        f = das.stack([c[:3], c[3:]]).reshape((6, 2))
        g = f[np.array([True, False, True, True, False, True])][[3, 0, 0, 2]][:, 1:2]
        return g.broadcast_to((4, 3))

    nodes, p = _view_chain_plan(spark, chain)
    assert nodes.count("Range") == 1, p
    assert nodes.count("Union") == 0, p
    assert nodes.count("BroadcastExchange") <= 1, p
    assert nodes.count("SortMergeJoin") == 0, p
