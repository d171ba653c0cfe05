"""Approximate neighborhood function (ANF) via Flajolet–Martin
bit-sketch supersteps — Palmer/Gibbons/Faloutsos KDD'02, the
HyperANF (Boldi–Vigna WWW'11) family with FM registers instead of
HyperLogLog ones.

``N(h)`` = number of (ordered) vertex pairs within distance ≤ h — the
curve behind effective-diameter and closeness estimates on the link
graph.  Exact N(h) needs an all-pairs BFS; the sketch version keeps
one tiny fixed-size mask per vertex and runs h bit-OR supersteps:

    mask_0(v)   = FM sketch of {v}
    mask_h(v)   = mask_{h-1}(v)  |  OR over out-neighbors' mask_{h-1}

so after h rounds ``mask_h(v)`` sketches exactly the ≤h-ball around v
(sketch union ≡ set union — the property BFS-free distance estimation
rests on).  |ball| is estimated per register from R = the lowest zero
bit: E[2^R] ≈ 0.77351·|ball|.

Everything is integer arithmetic on deterministic md5-derived hashes
(same idiom as :mod:`.approx`), so the whole h-round dataflow has an
exact unrolled SQL oracle — Spark and DuckDB agree bit-for-bit on
every mask, something a seeded-RNG sketch could never offer.

Scale: the superstep is one equi-join of the mask table against the
edge table + a ``bit_or`` groupBy — identical shuffle shape to one
PageRank iteration, with 8·k bytes of state per vertex, and the
aggregate is partial-combinable (bit-OR is associative/commutative),
so skewed high-degree vertices combine map-side.  The reference has
no ANF analogue; this is parity-plus breadth for the link-graph tier
(cf. ``/root/reference/src/centrality`` absence — closeness-style
metrics are out of its scope).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphminer_spark.checkpoint import run_supersteps

K_REGS = 4
_PHI = 0.77351  # Flajolet–Martin bias correction


def _fm_mask(id_col: Column, reg: int) -> Column:
    """32-bit FM sketch of the singleton {id} for register ``reg``:
    isolate the lowest set bit of a 32-bit md5 word (geometric with
    ratio 1/2); the all-zero word (p = 2⁻³²) caps at bit 31."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(str(reg)), id_col.cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return F.when(h == 0, F.lit(1 << 31)).otherwise(h.bitwiseAND(-h))


def _low_zero(m: Column) -> Column:
    """2^R where R = index of the lowest ZERO bit of mask ``m`` —
    the FM occupancy estimate numerator. ``~m & -~m`` with
    ``~m = -m-1`` (pure integer; identical expression in SQL)."""
    t = -m - F.lit(1)
    return t.bitwiseAND(-t)


def _pow(masks) -> Column:
    """Σ_r 2^{R_r} over the k register masks of one vertex."""
    return sum((_low_zero(m) for m in masks), F.lit(0))


def _run(
    sym_edges: DataFrame,
    k: int,
    h_max: int,
    algo: str,
    aggs: list | None = None,
    start: tuple = (),
    extra=lambda h, merged: [],
) -> tuple[DataFrame, list]:
    """The FM supersteps every read-out shares → ``(state, rows)``:
    ``h_max`` supersteps through :func:`run_supersteps` from the
    singleton sketches ``(id, m0..m{k-1}, *start)``; ``rows`` holds the
    ``aggs`` row of every state, the start state's first.

    Superstep h ORs every vertex's masks with its neighbors' (one join
    + a partial-combinable ``bit_or`` groupBy) → ``(id, m0..m{k-1},
    *extra(h, merged))``; ``extra`` derives further columns from the
    merged mask expressions and the previous state. The edge table is
    partitioned by the join key ONCE and persisted for the loop (without
    this every superstep re-scans and re-shuffles it — measured 2.6
    s/superstep vs PageRank's 0.44 s)."""
    edges = sym_edges.select("src", "dst").repartition("src").persist()
    m = edges.count()
    state = edges.select(F.col("src").alias("id")).distinct().select(
        "id", *[_fm_mask(F.col("id"), r).alias(f"m{r}") for r in range(k)], *start
    )

    def step(state: DataFrame, h: int, _) -> DataFrame:
        nbr = (
            state.join(edges, state["id"] == edges["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(*[F.bit_or(f"m{r}").alias(f"n{r}") for r in range(k)])
        )
        merged = [
            F.coalesce(F.col(f"n{r}"), F.lit(0)).bitwiseOR(F.col(f"m{r}"))
            for r in range(k)
        ]
        return state.join(nbr, "id", "left").select(
            "id", *[c.alias(f"m{r}") for r, c in enumerate(merged)], *extra(h, merged)
        )

    state, _, rows, *_ = run_supersteps(
        None, algo, state, step, aggs or [], None, h_max, m, init_aggs=aggs
    )
    edges.unpersist()
    return state, rows


def neighborhood_function(
    sym_edges: DataFrame,
    h_max: int = 3,
    k: int = K_REGS,
    include_h0: bool = False,
) -> DataFrame:
    """ANF curve over a symmetric edge table → one row per radius::

        (h, sum_pow, est_pairs_s)

    ``sum_pow`` = Σ_v Σ_r 2^{R_r(v)} (exact integer — the oracle-checked
    value); ``est_pairs_s`` = sum_pow / (k·0.77351) rendered ``%.4f`` —
    the estimated number of ordered pairs within distance ≤ h.
    """
    sum_pow = sum(
        (F.sum(_low_zero(F.col(f"m{r}"))) for r in range(k)), F.lit(0)
    ).alias("sum_pow")
    # the curve is the per-superstep aggregate row: radius h's sum rides
    # the action that materializes the h-th state (h = 0 on the start)
    _, rows = _run(sym_edges, k, h_max, "anf", [sum_pow])
    curve = [(h, r["sum_pow"]) for h, r in enumerate(rows)]
    return sym_edges.sparkSession.createDataFrame(
        curve if include_h0 else curve[1:], "h int, sum_pow long"
    ).select(
        "h",
        "sum_pow",
        F.format_string("%.4f", F.col("sum_pow") / F.lit(k * _PHI)).alias(
            "est_pairs_s"
        ),
    )


def anf_sql(h_max: int = 3, k: int = K_REGS) -> str:
    """Unrolled DuckDB replay over the standard graph CTEs (``sym``
    must be in scope): every mask, superstep and the final per-h sums
    are bit-identical to :func:`neighborhood_function`."""

    def mask(reg: int) -> str:
        h32 = (
            f"(('0x' || substr(md5('{reg}' || ':' || id::VARCHAR), 1, 8))"
            "::BIGINT)"
        )
        return (
            f"CASE WHEN {h32} = 0 THEN 2147483648 "
            f"ELSE {h32} & (-{h32}) END"
        )

    ms = ", ".join(f"{mask(r)} AS m{r}" for r in range(k))
    parts = [
        "verts AS (SELECT DISTINCT src AS id FROM sym)",
        f"anf0 AS MATERIALIZED (SELECT id, {ms} FROM verts)",
    ]
    for h in range(1, h_max + 1):
        ors = ", ".join(f"bit_or(s.m{r}) AS m{r}" for r in range(k))
        merged = ", ".join(
            f"(s.m{r} | coalesce(n.m{r}, 0)) AS m{r}" for r in range(k)
        )
        parts.append(
            f"nbr{h} AS MATERIALIZED (SELECT e.dst AS id, {ors} "
            f"FROM sym e JOIN anf{h - 1} s ON s.id = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"anf{h} AS MATERIALIZED (SELECT s.id, {merged} "
            f"FROM anf{h - 1} s LEFT JOIN nbr{h} n ON n.id = s.id)"
        )
    lowz = " + ".join(
        f"((-m{r} - 1) & (-(-m{r} - 1)))" for r in range(k)
    )
    selects = [
        f"SELECT {h} AS h, SUM({lowz})::BIGINT AS sum_pow, "
        f"printf('%.4f', SUM({lowz}) / {k * _PHI}) AS est_pairs_s "
        f"FROM anf{h}"
        for h in range(1, h_max + 1)
    ]
    return ", ".join(parts) + " " + " UNION ALL ".join(selects)


def effective_diameter(
    sym_edges: DataFrame,
    h_max: int = 5,
    alpha: float = 0.9,
    k: int = K_REGS,
) -> DataFrame:
    """HyperANF-style effective diameter: the interpolated radius at
    which the neighborhood function reaches ``alpha`` of its value at
    ``h_max`` → one row ``(h_max, target_s, eff_diam_s)``.

    Uses the exact integer ``sum_pow`` curve (h=0 included — the
    singleton baseline anchors the interpolation), crossing found with
    a lag window over the (h_max+1)-row curve; linear interpolation
    between the bracketing radii, the Boldi–Vigna convention."""
    curve = neighborhood_function(sym_edges, h_max, k, include_h0=True)
    from pyspark.sql import Window

    # h_max+1 rows — a single-partition window is the right plan here
    w = Window.orderBy("h")
    tgt = (
        curve.filter(F.col("h") == h_max)
        .select((F.lit(alpha) * F.col("sum_pow")).alias("t"))
    )
    lagged = curve.withColumn("prev", F.lag("sum_pow").over(w))
    cross = (
        lagged.crossJoin(F.broadcast(tgt))
        .filter(F.col("sum_pow") >= F.col("t"))
        .orderBy("h")
        .limit(1)
    )
    return cross.select(
        F.lit(h_max).alias("h_max"),
        F.format_string("%.4f", F.col("t")).alias("target_s"),
        F.format_string(
            "%.4f",
            F.when(F.col("prev").isNull(), F.col("h").cast("double"))
            .otherwise(
                F.col("h")
                - 1
                + (F.col("t") - F.col("prev"))
                / (F.col("sum_pow") - F.col("prev"))
            ),
        ).alias("eff_diam_s"),
    )


def eff_diam_sql(h_max: int = 5, alpha: float = 0.9, k: int = K_REGS) -> str:
    """DuckDB replay of :func:`effective_diameter` (CTE list fragment;
    ``sym`` must be in scope — compose after ``graph_ctes()``)."""
    lowz = " + ".join(f"((-m{r} - 1) & (-(-m{r} - 1)))" for r in range(k))
    base = anf_sql(h_max, k)
    # anf_sql ends with the per-h UNION ALL selects (h=1..h_max); wrap
    # them as a curve CTE and prepend the h=0 row
    ctes, selects = base.split(" SELECT 1 AS h,", 1)
    selects = "SELECT 1 AS h," + selects
    return (
        f"{ctes}, curve AS MATERIALIZED ("
        f"SELECT 0 AS h, SUM({lowz})::BIGINT AS sum_pow, "
        f"printf('%.4f', SUM({lowz}) / {k * _PHI}) AS est_pairs_s "
        f"FROM anf0 UNION ALL {selects}), "
        f"tgt AS (SELECT {alpha} * sum_pow AS t FROM curve WHERE h = {h_max}), "
        f"lagged AS (SELECT h, sum_pow, lag(sum_pow) OVER (ORDER BY h) AS prev "
        f"FROM curve), "
        f"x AS (SELECT h, sum_pow, prev, t FROM lagged, tgt "
        f"WHERE sum_pow >= t ORDER BY h LIMIT 1) "
        f"SELECT {h_max} AS h_max, printf('%.4f', t) AS target_s, "
        f"printf('%.4f', CASE WHEN prev IS NULL THEN h::DOUBLE "
        f"ELSE h - 1 + (t - prev) / (sum_pow - prev) END) AS eff_diam_s "
        f"FROM x"
    )


def ball_sizes(
    sym_edges: DataFrame, h: int = 2, k: int = K_REGS
) -> DataFrame:
    """Per-vertex estimated |ball(v, h)| — the local neighborhood-size
    feature (ANF's per-vertex read-out instead of the corpus curve) →
    ``(id, sum_pow, est_ball_s)`` where ``sum_pow`` = Σ_r 2^{R_r(v)}
    (exact integer) and ``est_ball_s = sum_pow/(k·0.77351)`` as
    ``%.4f``.  Same superstep dataflow as
    :func:`neighborhood_function`; the output is the h-th state."""
    state, _ = _run(sym_edges, k, h, "anf_ball")
    sum_pow = _pow(F.col(f"m{r}") for r in range(k)).cast("long")
    return state.select(
        "id",
        sum_pow.alias("sum_pow"),
        F.format_string("%.4f", sum_pow / F.lit(k * _PHI)).alias(
            "est_ball_s"
        ),
    )


def harmonic_centrality(
    sym_edges: DataFrame, h_max: int = 4, k: int = K_REGS
) -> DataFrame:
    """HyperBall harmonic centrality (Boldi–Vigna, "In-core
    computation of geometric centralities with HyperBall", ICDM'13
    workshops) → ``(id, harm_num, harmonic_s)``.

    harmonic(v) = Σ_{u≠v} 1/d(v,u) ≈ Σ_{h=1..H} Δball(v,h)/h where
    Δball(v,h) = |ball(v,h)| − |ball(v,h−1)| is read off the same FM
    bit-sketch supersteps as :func:`neighborhood_function`. To keep
    the oracle exact, the per-h read-outs are combined as ONE integer:

        harm_num(v) = Σ_h (L/h) · (pow_h(v) − pow_{h−1}(v)),

    L = lcm(1..H), pow_h(v) = Σ_r 2^{R_r} of the h-th mask — every
    term is integer arithmetic on deterministic md5 sketches, so Spark
    and DuckDB agree bit-for-bit; the single final division
    ``harm_num / (L·k·0.77351)`` (rendered ``%.4f``) is the only
    float op and is the identical IEEE expression in both engines.

    Scale: identical superstep to ANF (one join + bit-OR groupBy per
    radius, partial-combinable); the accumulator rides as two extra
    integer columns on the state — no additional shuffle.
    """
    import math

    L = math.lcm(*range(1, h_max + 1))
    old_pow = _pow(F.col(f"m{r}") for r in range(k))

    def num(h, merged):
        gain = F.lit(L // h) * (_pow(merged) - old_pow)
        return [(F.col("num") + gain).alias("num")]

    state, _ = _run(
        sym_edges, k, h_max, "anf_harmonic",
        start=(F.lit(0).cast("long").alias("num"),), extra=num,
    )
    return state.select(
        "id",
        F.col("num").cast("long").alias("harm_num"),
        F.format_string(
            "%.4f", F.col("num") / F.lit(L * k * _PHI)
        ).alias("harmonic_s"),
    )


def harmonic_sql(h_max: int = 4, k: int = K_REGS) -> str:
    """DuckDB replay of :func:`harmonic_centrality` (fragment; ``sym``
    in scope) — reuses the :func:`anf_sql` superstep CTEs and combines
    the per-h read-outs with the same LCM-scaled integer sum."""
    import math

    L = math.lcm(*range(1, h_max + 1))
    base = anf_sql(h_max, k)
    ctes = base[: base.index(" SELECT 1 AS h,")]

    def lowz(alias: str) -> str:
        return " + ".join(
            f"((-{alias}.m{r} - 1) & (-(-{alias}.m{r} - 1)))"
            for r in range(k)
        )

    num = " + ".join(
        f"({L // h}) * (({lowz(f'a{h}')}) - ({lowz(f'a{h - 1}')}))"
        for h in range(1, h_max + 1)
    )
    joins = " ".join(
        f"JOIN anf{h} a{h} ON a{h}.id = a0.id" for h in range(1, h_max + 1)
    )
    return (
        f"{ctes} SELECT a0.id, ({num})::BIGINT AS harm_num, "
        f"printf('%.4f', ({num}) / {L * k * _PHI}) AS harmonic_s "
        f"FROM anf0 a0 {joins}"
    )


def ball_sizes_sql(h: int = 2, k: int = K_REGS) -> str:
    """DuckDB replay of :func:`ball_sizes` (fragment; ``sym`` in
    scope) — reuses the :func:`anf_sql` superstep CTEs and reads the
    h-th state per vertex."""
    base = anf_sql(h, k)
    ctes = base[: base.index(" SELECT 1 AS h,")]
    lowz = " + ".join(
        f"((-m{r} - 1) & (-(-m{r} - 1)))" for r in range(k)
    )
    return (
        f"{ctes} SELECT id, ({lowz})::BIGINT AS sum_pow, "
        f"printf('%.4f', ({lowz}) / {k * _PHI}) AS est_ball_s "
        f"FROM anf{h}"
    )
