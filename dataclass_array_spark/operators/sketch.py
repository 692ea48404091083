"""Count-min sketch: one-pass, fixed-memory, MERGEABLE frequency
estimation — the streaming/100 TB counterpart of an exact
``groupBy(item).count()`` whose shuffle would otherwise carry the full
item-type table (reference semantic context: dataclass_array has no
sketches; this extends the engine's approx family alongside the
HLL/quantile gate `approx_sketches`).

Guarantee: for every item, ``estimate >= true count`` (each of the
``depth`` rows only ever ADDS colliding items), and
``estimate <= true + eps*N`` with probability ``1 - (1/2)^depth`` for
``width = e/eps`` — the classic Cormode-Muthukrishnan bound.

Exactness story (unusual for a sketch): the bucket hashes are
md5-derived universal hashes (the minhash recipe: one portable 32-bit
md5 prefix per item, mixed per row as ``(h*A_j + B_j) mod P mod
width``), so the WHOLE SKETCH is deterministic and the DuckDB oracle
replays it cell-for-cell — the gate hash-checks estimates, not just
tolerances.  ``h < 2^32`` and ``A_j < 2^29`` keep ``h*A_j + B_j``
under 2^62: no BIGINT overflow on either engine.

Scale shape: building the sketch is one aggregation over (row,
bucket) pairs — hash partial aggregation combines map-side, so the
shuffle carries at most ``depth * width`` rows PER TASK regardless of
corpus size, and the finished sketch (``depth * width`` rows total) is
broadcastable by construction.  Merging sketches of two corpora =
summing cells (same constants) — the mergeability that makes this the
production path where exact counting would need a vocabulary-sized
shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_CM_P = (1 << 61) - 1


def _cm_constants(depth: int) -> "tuple[list[int], list[int]]":
    """Fixed LCG (seed 7 — deliberately distinct from the minhash
    stream) → ``depth`` (A, B) universal-hash pairs, inlined as plan
    literals and into the oracle SQL."""
    a, out_a, out_b = 7, [], []
    for _ in range(depth):
        a = (a * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        out_a.append((a % ((1 << 29) - 1)) | 1)  # odd, < 2^29
        a = (a * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        out_b.append(a % _CM_P)
    return out_a, out_b


def _hash32(col: Column) -> Column:
    """Portable 32-bit hash: first 8 hex chars of md5 → BIGINT (the
    dedup.py recipe; DuckDB mirror ``CAST(('0x'||substr(md5(x),1,8))
    AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _bucket(h: Column, a: int, b: int, width: int) -> Column:
    return ((h * F.lit(a).cast("long") + F.lit(b).cast("long")) % F.lit(_CM_P)) % F.lit(
        int(width)
    )


def countmin_build(
    df: DataFrame, item_col: str, depth: int = 4, width: int = 2048
) -> DataFrame:
    """Build the sketch: ``(j, bucket, cnt)`` rows, ``j in [0,
    depth)``, ``bucket in [0, width)`` — at most ``depth*width`` rows.
    One posexplode (depth rows per instance, combined map-side) + one
    aggregation."""
    A, B = _cm_constants(depth)
    h = _hash32(F.col(item_col))
    buckets = F.array(*[_bucket(h, A[j], B[j], width) for j in range(depth)])
    inst = df.select(F.posexplode(buckets).alias("j", "bucket"))
    return inst.groupBy("j", "bucket").agg(
        F.count("*").cast("long").alias("cnt")
    )


def countmin_lookup(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """Point estimates for ``items``: ``min_j sketch[j][bucket_j(t)]``
    (0 for a never-seen item whose buckets are all empty).  The sketch
    side is broadcast — it is ≤ depth*width rows by construction, at
    ANY corpus size."""
    A, B = _cm_constants(depth)
    h = _hash32(F.col(item_col))
    buckets = F.array(*[_bucket(h, A[j], B[j], width) for j in range(depth)])
    probes = items.select(
        F.col(item_col), F.posexplode(buckets).alias("j", "bucket")
    )
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est"))
    )


def countmin_sql_ctes(
    item_src: str, item: str, depth: int, width: int
) -> str:
    """DuckDB mirror: CTEs ``cmcons(j, a, b)``, ``cminst`` and
    ``cmsketch(j, bucket, cnt)`` over item instances ``{item_src}``
    (a FROM-able subquery/table with column ``{item}``) — identical
    integer arithmetic, cell-for-cell equal to :func:`countmin_build`."""
    A, B = _cm_constants(depth)
    cons = ", ".join(f"({j}, {A[j]}, {B[j]})" for j in range(depth))
    return f"""cmcons AS (SELECT * FROM (VALUES {cons}) v(j, a, b)),
cminst AS (
  SELECT c.j,
         ((CAST(('0x'||substr(md5({item}),1,8)) AS BIGINT) * c.a + c.b)
          % {_CM_P}) % {int(width)} AS bucket
  FROM {item_src} CROSS JOIN cmcons c
),
cmsketch AS (
  SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cminst GROUP BY j, bucket
)"""


# ------------------------------------------------------- HyperLogLog
def _hash60(col: Column) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5 → BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hll_alpha(m: int) -> float:
    """Flajolet et al.'s bias constant for m >= 128 — a plain double
    literal inlined identically into the plan and the oracle."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_distinct(
    df: DataFrame,
    group_cols: "list[str]",
    value_col: str,
    b: int = 8,
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate ``(group...,
    n_buckets_used, est)`` — with the same portable-determinism twist
    as the count-min sketch: bucket = low ``b`` bits of a 60-bit md5
    hash, rho = leading-zero rank of the remaining 60-b bits (computed
    as ``length(bin(w))`` integer arithmetic, no libm), and the
    harmonic-mean estimate folds the m bucket terms in BUCKET ORDER
    starting from the empty-bucket base — so the final double is
    bit-identical in the DuckDB oracle (:func:`hll_sql`), estimate
    included, not just within tolerance.  Small-range correction
    (linear counting ``m · ln(m/V)``) uses the integer-only
    :func:`~dataclass_array_spark.operators.text.ln_exact` series; the
    32-bit large-range correction does not apply to a 60-bit hash.

    Scale shape: one aggregation to ``(group, bucket) → max(rho)``
    (map-side combined: at most ``groups * 2^b`` rows shuffle per
    task), one per-group fold over ≤ 2^b bucket entries.  Mergeable:
    sketches of shards merge by (group, bucket) MAX — union the
    ``(group, bucket, M)`` tables and re-aggregate."""
    return hll_estimate(hll_per_bucket(df, group_cols, value_col, b), group_cols, b)


def hll_per_bucket(
    df: DataFrame,
    group_cols: "list[str]",
    value_col: str,
    b: int = 8,
) -> DataFrame:
    """The sketch STATE: ``(group..., __bkt, __M)`` = per-bucket max
    leading-zero rank — the mergeable half of :func:`hll_distinct`
    (shard states merge by (group, bucket) MAX; see
    :func:`~dataclass_array_spark.streaming.core.hll_stream`)."""
    if not 4 <= b <= 16:
        raise ValueError("b (bucket bits) must be in [4, 16]")
    m = 1 << b
    h = _hash60(F.col(value_col).cast("string"))
    bucket = h.bitwiseAND(F.lit(m - 1).cast("long"))
    w = F.shiftright(h, b)
    width = 60 - b
    rho = F.when(w == 0, F.lit(width + 1).cast("long")).otherwise(
        F.lit(width).cast("long") - (F.length(F.bin(w)) - 1)
    )
    return (
        df.select(*group_cols, bucket.alias("__bkt"), rho.alias("__rho"))
        .groupBy(*group_cols, "__bkt")
        .agg(F.max("__rho").alias("__M"))
    )


def hll_estimate(
    per_bucket: DataFrame, group_cols: "list[str]", b: int = 8
) -> DataFrame:
    """Estimate from the sketch state (bucket-ordered fold + correction
    branch; see :func:`hll_distinct` for the exactness story)."""
    from dataclass_array_spark.operators.text import ln_exact

    m = 1 << b
    alpha = hll_alpha(m)
    # S = (m - n_present)·1.0  +  Σ_present 2^-M, added in bucket order
    # (the fold's INIT is the empty-bucket base, so both engines add in
    # the same sequence); V = empty buckets for linear counting.
    # the shift needs a COLUMN bit count — only the SQL form takes one
    per_bucket = per_bucket.withColumn(
        "__term",
        F.lit(1.0)
        / F.expr("CAST(shiftleft(CAST(1 AS BIGINT), __M) AS DOUBLE)"),
    )
    term = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("__bkt").alias("bkt"), F.col("__term").alias("t"))
            )
        ),
        lambda s: s.t,
    )
    grouped = per_bucket.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("__used"),
        F.aggregate(
            term,
            # init computed per-row from __used is not available inside
            # agg; collect the fold from 0 and add the base after —
            # base + fold ≡ fold-from-base for IEEE doubles ONLY if
            # mirrored, so the oracle adds in exactly this order too:
            # S = base + (((0 + t1) + t2) + ...)
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("__sum"),
    )
    base = (F.lit(m).cast("long") - F.col("__used")).cast("double")
    s_col = base + F.col("__sum")
    e_raw = F.lit(alpha * m * m) / s_col
    v = F.lit(m).cast("long") - F.col("__used")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * (ln_exact(F.lit(m).cast("long")) - ln_exact(v)),
    ).otherwise(e_raw)
    return grouped.select(
        *group_cols,
        F.col("__used").alias("n_buckets_used"),
        est.alias("est"),
    )


def hll_sql(
    src: str, group_cols: "list[str]", value: str, b: int = 8
) -> str:
    """DuckDB mirror of :func:`hll_distinct` — identical hash, rho,
    fold order, correction branch; returns a full query ``SELECT
    {group...}, n_buckets_used, est FROM ...`` (no trailing ORDER
    BY)."""
    from dataclass_array_spark.operators.text import LN2_DOUBLE, sql_ln_series

    m = 1 << b
    alpha = hll_alpha(m)
    width = 60 - b
    gc = ", ".join(group_cols)

    def ln_int(n: str) -> str:
        # inline ln_exact over a positive integer expression
        return (
            f"(SELECT CAST(e AS DOUBLE) * {LN2_DOUBLE!r} + 2.0 * ({sql_ln_series()}) FROM "
            f"(SELECT z, z*z AS z2, e FROM "
            f"(SELECT (mm - 1.0) / (mm + 1.0) AS z, e FROM "
            f"(SELECT CAST(nn AS DOUBLE) / CAST((CAST(1 AS BIGINT) << e) AS DOUBLE) AS mm, e FROM "
            f"(SELECT ({n}) AS nn, length(bin({n})) - 1 AS e)))))"
        )

    return f"""
WITH hllh AS (
  SELECT {gc},
         CAST(('0x'||substr(md5(CAST({value} AS VARCHAR)),1,15)) AS BIGINT) AS h
  FROM {src}
),
hllr AS (
  SELECT {gc}, h & {m - 1} AS bkt,
         CASE WHEN (h >> {b}) = 0 THEN {width + 1}
              ELSE {width} - (length(bin(h >> {b})) - 1) END AS rho
  FROM hllh
),
hllb AS (
  SELECT {gc}, bkt, MAX(rho) AS M FROM hllr GROUP BY {gc}, bkt
),
hllg AS (
  SELECT {gc}, CAST(COUNT(*) AS BIGINT) AS used,
         list_reduce(
           list_prepend(0.0,
             list(1.0 / CAST((CAST(1 AS BIGINT) << M) AS DOUBLE) ORDER BY bkt)),
           (a, x) -> a + x) AS ssum
  FROM hllb GROUP BY {gc}
)
SELECT {gc}, used AS n_buckets_used,
       CASE WHEN ({alpha * m * m!r} / (CAST({m} - used AS DOUBLE) + ssum))
                   <= {2.5 * m!r}
                 AND ({m} - used) > 0
            THEN CAST({m} AS DOUBLE)
                 * ({ln_int(str(m))} - {ln_int(f"({m} - used)")})
            ELSE {alpha * m * m!r} / (CAST({m} - used AS DOUBLE) + ssum)
       END AS est
FROM hllg"""


# ------------------------------------------------------ Bloom filter
def bloom_build(
    df: DataFrame, key_col: str, n_bits: int = 65536, k: int = 5
) -> DataFrame:
    """Bloom filter of the distinct keys as a SET-BIT-POSITION table
    ``(pos)`` — ≤ min(k·|keys|, n_bits) rows, broadcastable by
    construction.  Positions are the same md5-universal hashes the
    count-min sketch uses (deterministic → the DuckDB oracle replays
    the filter bit-for-bit).  Guarantee: NO false negatives; false
    positives at the classic ``(1 - e^{-kn/m})^k`` rate.

    Scale story: this is the PORTABLE, oracle-replayable variant; at
    100 TB the same shape is what Spark's runtime row-level bloom
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) injects
    automatically for selective joins — use this explicit form when
    the filter must be persisted, shipped across jobs, or merged
    (bloom union = UNION DISTINCT of position tables)."""
    A, B = _cm_constants(k)
    h = _hash32(F.col(key_col).cast("string"))
    pos = F.array(*[_bucket(h, A[j], B[j], n_bits) for j in range(k)])
    return (
        df.select(F.explode(pos).alias("pos")).distinct()
    )


# Bitmask-literal cap for bloom_probe: filters up to this many bits
# (2^20 bits = 16384 packed longs, ~128 KB of plan literal) probe as a
# pure map-side expression; larger filters keep the join+aggregation
# path.  The position table is ≤ n_bits rows BY CONSTRUCTION, so the
# driver collect is bounded — the classifier literal-weights /
# qdigest-ladder bounded-small-side rule.
_BLOOM_LITERAL_MAX_BITS = 1 << 20


def bloom_probe(
    bloom: DataFrame,
    probes: DataFrame,
    key_col: str,
    n_bits: int = 65536,
    k: int = 5,
) -> DataFrame:
    """Membership probe: ``(key..., in_bloom)`` — true iff ALL k bit
    positions are set.  ``probes`` must be key-distinct (both gate
    callers probe a ``.distinct()`` key set).

    Round 16: filters within ``_BLOOM_LITERAL_MAX_BITS`` collect the
    (≤ n_bits-row) position table once and probe via a packed-long
    BITMASK ARRAY LITERAL — the probe becomes a map-only expression
    (zero explode, zero join, zero aggregation), which is also the
    100 TB shape: a shipped bloom filter is applied in-scan, never by
    joining every probe row against a position table.  Larger filters
    keep the old explode + broadcast-join + count path (positions can
    collide WITHIN a key, so that path counts DISTINCT matched
    positions per key — the bit test is insensitive to the same
    collision, so both paths agree row-for-row)."""
    A, B = _cm_constants(k)
    h = _hash32(F.col(key_col).cast("string"))
    if n_bits <= _BLOOM_LITERAL_MAX_BITS:
        words = [0] * ((int(n_bits) + 63) >> 6)
        for r in bloom.select("pos").collect():
            p = int(r["pos"])
            words[p >> 6] |= 1 << (p & 63)
        # two's-complement fold into signed int64 array elements; the
        # packed mask ships as a ONE-ROW broadcast frame, not a plan
        # literal — pyspark's per-element lit() construction costs
        # seconds at 2^20 bits (16384 longs), a pickled createDataFrame
        # row is milliseconds, and the query plan stays small
        signed = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
        mask_df = probes.sparkSession.createDataFrame(
            [(signed,)], "__mask array<long>"
        )
        mask = F.col("__mask")
        hb = F.col("__h")

        def bit_set(j: int):
            p = _bucket(hb, A[j], B[j], n_bits)
            word = F.element_at(mask, (p / 64).cast("int") + 1)
            b = F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (p % 64).cast("int"),
            )
            return word.bitwiseAND(b) != 0

        test = bit_set(0)
        for j in range(1, k):
            test = test & bit_set(j)
        return (
            probes.withColumn("__h", h)
            .crossJoin(F.broadcast(mask_df))
            .select(F.col(key_col), test.alias("in_bloom"))
        )
    pos = F.array(*[_bucket(h, A[j], B[j], n_bits) for j in range(k)])
    exploded = probes.select(
        F.col(key_col), F.explode(F.array_distinct(pos)).alias("pos")
    )
    return (
        exploded.join(
            F.broadcast(bloom.withColumn("__hit", F.lit(1))), ["pos"], "left"
        )
        .groupBy(key_col)
        .agg(
            (F.count("*") == F.count("__hit")).alias("in_bloom")
        )
    )


# ----------------------------------------- histogram quantile sketch
def hist_build(
    df: DataFrame,
    group_cols: "list[str]",
    value_col: str,
    lo: float,
    hi: float,
    nbuckets: int = 4096,
) -> DataFrame:
    """Fixed-width histogram sketch ``(group..., bucket, cnt)`` over
    known value bounds — the mergeable quantile summary you can SHIP
    (shard histograms merge by cell-SUM, exactly like count-min), as
    opposed to the engine-private t-digest behind
    ``percentile_approx``.  Deterministic: the bucket index is a
    clamped floor over mirrored double ops, so the DuckDB oracle
    rebuilds the histogram cell-for-cell.  Error bound: a quantile
    estimate is off by at most one bucket width ``(hi-lo)/nbuckets``.

    Bounds come from the caller (one min/max aggregate — the
    zorder/SQ8 bounds pattern: persist them; incremental writers
    reuse).  Values outside [lo, hi] clamp into the edge buckets.
    Scale shape: one aggregation, ≤ groups·nbuckets rows shuffle per
    task (map-side combined)."""
    if not hi > lo:
        raise ValueError(f"hist_build: need hi > lo, got [{lo}, {hi}]")
    nb = int(nbuckets)
    x = F.col(value_col).cast("double")
    raw = F.floor(
        (x - F.lit(float(lo))) * F.lit(float(nb)) / F.lit(float(hi) - float(lo))
    ).cast("long")
    b = F.least(F.lit(nb - 1).cast("long"), F.greatest(F.lit(0).cast("long"), raw))
    return (
        df.select(*group_cols, b.alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def hist_quantiles(
    hist: DataFrame,
    group_cols: "list[str]",
    ps: "list[float]",
    lo: float,
    hi: float,
    nbuckets: int = 4096,
) -> DataFrame:
    """Quantile estimates from the histogram sketch: for each p, the
    MIDPOINT of the first bucket whose cumulative count reaches rank
    ``ceil(p·n)`` (1-based inverted CDF — the same discrete convention
    the exact side of ``approx_sketches`` uses).  Output ``(group...,
    n, p{p}_est...)``.  Pure arithmetic on mirrored doubles — the
    oracle reproduces every estimate bit-for-bit.  NULL-key groups are
    dropped, as the oracle's equi-join drops them.

    The scan is the q-digest's
    (:func:`~dataclass_array_spark.operators.qdigest._quantile_scan`)
    with each bucket as a level-0 node: the histogram is ≤
    |groups|·nbuckets cells by construction, so within the
    ``collect_bounded`` cap it replays on the driver, else it runs the
    distributed window+join scan."""
    from dataclass_array_spark.operators.qdigest import _quantile_scan

    # column labels floor p to an integer percent — ps that collide
    # (0.95 vs 0.955) or repeat would silently emit duplicate column
    # names and break the chained join, so fail loudly up front
    labels = [f"p{int(p * 100)}_est" for p in ps]
    if len(set(labels)) != len(labels):
        raise ValueError(
            "hist_quantiles: ps produce colliding column labels "
            f"{labels} — use ps that differ at integer-percent "
            "granularity (labels are p<int(p*100)>_est)"
        )
    width = (float(hi) - float(lo)) / float(int(nbuckets))
    nodes = hist.select(
        *group_cols,
        F.col("bucket").cast("long").alias("maxb"),
        F.lit(0).cast("long").alias("lvl"),
        "cnt",
    )
    return _quantile_scan(nodes, group_cols, ps, labels, lo, width)


def hll_intersect_estimate(
    est_a: Column, est_b: Column, est_union: Column
) -> Column:
    """Inclusion-exclusion intersection estimate from three HLL
    estimates: ``(est_a + est_b) - est_union`` — the standard HLL
    set-operation recipe (union is EXACT at the sketch level: HLL of
    A∪B == the (bucket-wise MAX)-merge of the two sketches; only the
    intersection inherits estimation error, which can make small true
    intersections go negative — callers clamp if they need
    non-negative).  The op order is fixed so the oracle mirrors it."""
    return (est_a + est_b) - est_union
