"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the correctness baseline — broadcast the
  query set, JVM-side zip_with/aggregate dot products (no Python in
  the hot path), window re-rank. O(Q x N): valid for small Q only,
  and documented as the oracle for the LSH paths.
- sign-LSH top-k (the scale path): 16 deterministic pseudo-random
  Rademacher hyperplanes -> a 16-bit signature per vector.
  * banded candidates (4 bands x 4 bits): rows sharing >= 1 band
    with the query, produced by an id-only band explode + equi-join
    on (band, bucket) — SortMergeJoin/BroadcastHashJoin only, never
    a nested-loop. Vectors join back AFTER pair dedup so the 4x
    explode carries ids, not payloads.
  * ring probes: the query side explodes into its hamming<=r probe
    signatures and equi-joins on the full signature — the multi-probe
    LSH candidate rule as an equi-join (a `bit_count(a^b) <= r` join
    condition plans as BroadcastNestedLoopJoin: every base row tested
    against every query; the probe explosion removes it).
- per-label centroids: elementwise vector mean via posexplode.

Float-parity discipline: hyperplane signs threshold an INTEGER dot
product — coordinates quantize as round(x * 2^15) (exact: power-of-2
scaling of a float32 is exact in double, so Spark and DuckDB agree
bit-for-bit), and the Rademacher signs come from an integer LCG.
Cosine scores stay double (floor(sim*1e4) outputs, far from integer
boundaries on the fixture family).

At 10^12 rows: signatures are per-row Column math (no shuffle); the
banded join shuffles id-sized rows 4x; PLANES/BANDS are knobs — a
larger corpus wants 32-64 planes (8-16 bands) for smaller buckets.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

N_PLANES = 16          # random hyperplanes -> signature bits
BAND_BITS = 4          # 4 bands x 4 bits
N_BANDS = N_PLANES // BAND_BITS
_Q = 32768             # 2^15 coordinate quantizer (exact in fp)
_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 2147483648    # 2^31
_PLANE_STRIDE = 4096   # dims-per-plane headroom in the LCG index

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "cast(0.0 as double), (acc, v) -> acc + v)"
)
_NORM = (
    "sqrt(aggregate({a}, cast(0.0 as double), "
    "(acc, x) -> acc + cast(x as double) * cast(x as double)))"
)


def with_norm(df: DataFrame, vec: str = "embedding") -> DataFrame:
    return df.withColumn("norm", F.expr(_NORM.format(a=vec)))


def _spark_plane_bit(vec: str, i: int) -> str:
    """SQL text: does hyperplane i's integer dot product >= 0."""
    off = i * _PLANE_STRIDE
    sign = (
        f"(2 * cast(shiftright(cast(({_LCG_A}L * ({off}L + d) + {_LCG_C}L) "
        f"% {_LCG_M}L as bigint), 15) % 2 as bigint) - 1)"
    )
    return (
        f"aggregate(zip_with({vec}, sequence(0, size({vec}) - 1), "
        f"(x, d) -> cast(round(cast(x as double) * {_Q}) as bigint) * {sign}), "
        f"cast(0 as bigint), (acc, v) -> acc + v) >= 0"
    )


def sign_signature(vec: str = "embedding") -> F.Column:
    """16-bit sign-LSH signature: bit i set iff the vector's integer
    dot product with Rademacher hyperplane i is >= 0."""
    terms = [
        f"IF({_spark_plane_bit(vec, i)}, {1 << i}, 0)" for i in range(N_PLANES)
    ]
    return F.expr(" + ".join(terms)).cast("int")


def _band_rows(df: DataFrame, sig: str, keep: list) -> DataFrame:
    """Explode (id cols, sig) into N_BANDS (band, bucket) rows."""
    parts = []
    for b in range(N_BANDS):
        parts.append(
            df.select(
                *keep,
                F.lit(b).alias("band"),
                F.expr(f"({sig} div {1 << (BAND_BITS * b)}) % {1 << BAND_BITS}")
                .cast("int")
                .alias("bucket"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _probe_signatures(qsig: str, ring: int) -> F.Column:
    """Array of all signatures within hamming<=ring of the query's."""
    exprs = [qsig]
    for r in range(1, ring + 1):
        for bits in combinations(range(N_PLANES), r):
            mask = 0
            for j in bits:
                mask |= 1 << j
            exprs.append(f"cast({qsig} ^ {mask} as int)")
    return F.array([F.expr(e) for e in exprs])


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    bucketed: bool = False,
    ring: int = 0,
) -> DataFrame:
    """Top-k cosine neighbours of each query vector (excluding self).

    `queries` needs (query_id, qv). bucketed=True restricts candidates
    by sign-LSH: ring=0 keeps rows sharing >= 1 of the 4 signature
    bands with the query (banded LSH); ring=r keeps rows whose FULL
    16-bit signature is within r bit flips of the query's, realized
    by exploding the query into its probe signatures and equi-joining.
    """
    base = with_norm(emb)
    q = queries.withColumn("qnorm", F.expr(_NORM.format(a="qv")))
    if bucketed:
        base = base.withColumn("sig", sign_signature("embedding"))
        q = q.withColumn("qsig", sign_signature("qv"))
        if ring == 0:
            bsides = _band_rows(base, "sig", [F.col("vec_id")])
            qsides = _band_rows(q, "qsig", [F.col("query_id")])
            cand = (
                bsides.join(F.broadcast(qsides), ["band", "bucket"])
                .where(F.col("vec_id") != F.col("query_id"))
                .select("vec_id", "query_id")
                .dropDuplicates(["vec_id", "query_id"])
            )
        else:
            probes = q.select(
                "query_id",
                F.explode(_probe_signatures("qsig", ring)).alias("sig"),
            )
            cand = (
                base.select("vec_id", "sig")
                .join(F.broadcast(probes), "sig")
                .where(F.col("vec_id") != F.col("query_id"))
                .select("vec_id", "query_id")
            )
        joined = (
            cand.join(base.select("vec_id", "embedding", "norm"), "vec_id")
            .join(
                F.broadcast(q.select("query_id", "qv", "qnorm")), "query_id"
            )
        )
    else:
        joined = base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    sim = F.expr(_DOT.format(a="embedding", b="qv")) / (F.col("norm") * F.col("qnorm"))
    scored = joined.withColumn("sim", sim)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "vec_id",
            F.floor(F.col("sim") * 10000).cast("long").alias("sim_e4"),
        )
    )


def cosine_dedup_pairs(emb: DataFrame, threshold_e4: int = 9000
                       ) -> DataFrame:
    """Embedding-cosine near-dup PAIRS (the dedup view of ANN):
    sign-LSH banded self-join proposes candidates, exact cosine
    verifies floor(sim*1e4) >= threshold_e4 in quantized integer
    space (identical left-fold dot product both engines).

    Scale shape: one (band, bucket) int-key self equi-join + one
    verify join — no all-pairs anywhere; identical to the text
    MinHash pipeline that survives 100 TB."""
    base = with_norm(emb).withColumn("sig", sign_signature("embedding"))
    bands = _band_rows(base, "sig", [F.col("vec_id")])
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    sides = base.select("vec_id", "embedding", "norm")
    joined = (
        cand.join(
            sides.withColumnRenamed("vec_id", "vec_a")
            .withColumnRenamed("embedding", "ea")
            .withColumnRenamed("norm", "na"), "vec_a")
        .join(
            sides.withColumnRenamed("vec_id", "vec_b")
            .withColumnRenamed("embedding", "eb")
            .withColumnRenamed("norm", "nb"), "vec_b")
    )
    sim = F.expr(_DOT.format(a="ea", b="eb")) / (F.col("na") * F.col("nb"))
    return (
        joined.withColumn("sim_e4", F.floor(sim * 10000).cast("long"))
        .where(F.col("sim_e4") >= threshold_e4)
        .select("vec_a", "vec_b", "sim_e4")
    )


def sql_cosine_dedup_pairs(threshold_e4: int = 9000,
                           src: str = "embeddings") -> str:
    ors = " OR ".join(
        f"((sa.sig // {1 << (BAND_BITS * b)}) % {1 << BAND_BITS})"
        f" = ((sb.sig // {1 << (BAND_BITS * b)}) % {1 << BAND_BITS})"
        for b in range(N_BANDS)
    )
    dot = _DUCK_DOT.format(a="sa.embedding", b="sb.embedding")
    na = _DUCK_NORM.format(a="sa.embedding")
    nb = _DUCK_NORM.format(a="sb.embedding")
    return f"""
WITH sigs AS (
  SELECT vec_id, embedding, {duck_signature('embedding')} AS sig FROM {src}
),
d AS (
  SELECT sa.vec_id AS vec_a, sb.vec_id AS vec_b,
    cast(floor((({dot}) / (({na}) * ({nb}))) * 10000) as bigint) AS sim_e4
  FROM sigs sa JOIN sigs sb
    ON sa.vec_id < sb.vec_id AND ({ors})
)
SELECT vec_a, vec_b, sim_e4 FROM d WHERE sim_e4 >= {threshold_e4}
"""


IVF_LISTS = 16        # coarse cells (knob: ~sqrt(N) at scale)
_IVF_LCG_A = 48271
_IVF_LCG_M = 2147483647


def _spark_ivf_dist2(vec: str, c: int) -> str:
    """SQL text: squared distance of `vec` to centroid c (quantized
    coords, exact integer math like the sign-LSH path)."""
    comp = (
        f"(cast((({_IVF_LCG_A}L * ({c * 4096}L + d) + 12345L) % {_IVF_LCG_M}L) "
        f"as double) / {_IVF_LCG_M} - 0.5) / 2.0"
    )
    return (
        f"aggregate(zip_with({vec}, sequence(0, size({vec}) - 1), "
        f"(x, d) -> (cast(x as double) - ({comp})) * (cast(x as double) - ({comp}))), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def ivf_cell(vec: str = "embedding", n_lists: int = IVF_LISTS) -> F.Column:
    """argmin-distance coarse cell id (ties to the lower cell id)."""
    dists = f"array({', '.join(_spark_ivf_dist2(vec, c) for c in range(n_lists))})"
    return F.expr(
        f"array_position({dists}, array_min({dists}))"
    ).cast("int") - 1


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    n_probe: int = 4,
) -> DataFrame:
    """IVF ANN: rows partition into IVF_LISTS coarse cells (argmin
    distance to deterministic centroids); each query probes its
    n_probe nearest cells via a query-side explode + cell equi-join
    (the inverted-list scan), then exact cosine re-rank. One shuffle
    on the cell key; candidates ~ n_probe/IVF_LISTS of the corpus."""
    base = with_norm(emb).withColumn("cell", ivf_cell("embedding"))
    q = queries.withColumn("qnorm", F.expr(_NORM.format(a="qv")))
    qd = f"array({', '.join(_spark_ivf_dist2('qv', c) for c in range(IVF_LISTS))})"
    probes = q.select(
        "query_id", "qv", "qnorm",
        F.explode(
            F.expr(
                f"slice(array_sort(transform({qd}, (d, c) -> named_struct('d', d, 'c', c))), 1, {n_probe})"
            )
        ).alias("p"),
    ).select("query_id", "qv", "qnorm", F.col("p.c").cast("int").alias("cell"))
    joined = base.join(F.broadcast(probes), "cell").where(
        F.col("vec_id") != F.col("query_id")
    )
    sim = F.expr(_DOT.format(a="embedding", b="qv")) / (F.col("norm") * F.col("qnorm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        joined.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "vec_id",
            F.floor(F.col("sim") * 10000).cast("long").alias("sim_e4"),
        )
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Elementwise mean vector per label -> (label, dim, c_e6)."""
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    )
    return (
        ex.groupBy("label", "dim")
        .agg(F.avg(F.col("v").cast("double")).alias("c"))
        .select(
            "label",
            F.col("dim").cast("int"),
            F.floor(F.col("c") * 1e6).cast("long").alias("c_e6"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB twins
# ---------------------------------------------------------------------------

_DUCK_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> cast(p[1] as double) * cast(p[2] as double)))"
)
_DUCK_NORM = (
    "sqrt(list_sum(list_transform({a}, x -> cast(x as double) * cast(x as double))))"
)


def _duck_plane_bit(vec: str, i: int) -> str:
    off = i * _PLANE_STRIDE
    sign = (
        f"(2 * (((({_LCG_A} * ({off} + p[2]) + {_LCG_C}) % {_LCG_M}) >> 15) % 2) - 1)"
    )
    return (
        f"cast(list_sum(list_transform(list_zip({vec}, range(0, len({vec}))), "
        f"p -> cast(round(cast(p[1] as double) * {_Q}) as bigint) * {sign})) "
        f"as bigint) >= 0"
    )


def duck_signature(vec: str) -> str:
    terms = [
        f"CASE WHEN {_duck_plane_bit(vec, i)} THEN {1 << i} ELSE 0 END"
        for i in range(N_PLANES)
    ]
    return "cast(" + " + ".join(terms) + " as int)"


def sql_cosine_topk(query_filter: str, k: int, bucketed: bool = False,
                    ring: int = 0, src: str = "embeddings") -> str:
    dot = _DUCK_DOT.format(a="e.embedding", b="q.embedding")
    ne = _DUCK_NORM.format(a="e.embedding")
    nq = _DUCK_NORM.format(a="q.embedding")
    if bucketed:
        if ring > 0:
            # probe-explosion rule == full-signature hamming <= ring
            bucket_cond = (
                f" AND bit_count(cast(xor(se.sig, sq.sig) as bigint)) <= {ring}"
            )
        else:
            # banded rule: share at least one of the 4-bit bands
            ors = " OR ".join(
                f"((se.sig // {1 << (BAND_BITS * b)}) % {1 << BAND_BITS})"
                f" = ((sq.sig // {1 << (BAND_BITS * b)}) % {1 << BAND_BITS})"
                for b in range(N_BANDS)
            )
            bucket_cond = f" AND ({ors})"
        return f"""
WITH sigs AS (
  SELECT vec_id, embedding, {duck_signature('embedding')} AS sig FROM {src}
),
q AS (SELECT vec_id AS query_id, embedding, sig FROM sigs WHERE {query_filter}),
d AS (
  SELECT sq.query_id, se.vec_id,
    ({_DUCK_DOT.format(a='se.embedding', b='sq.embedding')})
      / (({_DUCK_NORM.format(a='se.embedding')}) * ({_DUCK_NORM.format(a='sq.embedding')})) AS sim
  FROM sigs se JOIN q sq ON se.vec_id <> sq.query_id{bucket_cond}
),
r AS (
  SELECT query_id, vec_id, sim,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rnk
  FROM d
)
SELECT query_id, cast(rnk as int) AS rank, vec_id,
       cast(floor(sim * 10000) as bigint) AS sim_e4
FROM r WHERE rnk <= {k}
"""
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM {src} WHERE {query_filter}),
d AS (
  SELECT q.query_id, e.vec_id,
    ({dot}) / (({ne}) * ({nq})) AS sim
  FROM {src} e JOIN q ON e.vec_id <> q.query_id
),
r AS (
  SELECT query_id, vec_id, sim,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rnk
  FROM d
)
SELECT query_id, cast(rnk as int) AS rank, vec_id,
       cast(floor(sim * 10000) as bigint) AS sim_e4
FROM r WHERE rnk <= {k}
"""


def _duck_ivf_dist2(vec: str, c: int) -> str:
    comp = (
        f"(cast((({_IVF_LCG_A} * ({c * 4096} + p[2]) + 12345) % {_IVF_LCG_M}) "
        f"as double) / {_IVF_LCG_M} - 0.5) / 2.0"
    )
    return (
        f"list_sum(list_transform(list_zip({vec}, range(0, len({vec}))), "
        f"p -> (cast(p[1] as double) - ({comp})) * (cast(p[1] as double) - ({comp}))))"
    )


def sql_ivf_topk(query_filter: str, k: int, n_probe: int = 4,
                 src: str = "embeddings") -> str:
    """DuckDB twin of ivf_topk: same centroid formula, argmin cell
    assignment, n_probe nearest cells per query, exact re-rank."""
    cells_arr = "[" + ", ".join(
        f"cast({_duck_ivf_dist2('embedding', c)} as double)" for c in range(IVF_LISTS)
    ) + "]"
    return f"""
WITH dists AS (
  SELECT vec_id, embedding, {cells_arr} AS ds FROM {src}
),
assigned AS (
  SELECT vec_id, embedding, cast(list_position(ds, list_min(ds)) - 1 as int) AS cell
  FROM dists
),
qprobe AS (
  SELECT d.vec_id AS query_id, d.embedding AS qv, u.c AS cell
  FROM dists d,
  LATERAL (
    SELECT cast(x.gen - 1 as int) AS c, d.ds[x.gen] AS dist
    FROM generate_series(1, {IVF_LISTS}) AS x(gen)
    ORDER BY dist, c LIMIT {n_probe}
  ) u
  WHERE {query_filter.replace('vec_id', 'd.vec_id')}
),
cand AS (
  SELECT q.query_id, q.qv, a.vec_id, a.embedding
  FROM qprobe q JOIN assigned a ON a.cell = q.cell AND a.vec_id <> q.query_id
),
scored AS (
  SELECT query_id, vec_id,
    ({_DUCK_DOT.format(a='embedding', b='qv')})
      / (({_DUCK_NORM.format(a='embedding')}) * ({_DUCK_NORM.format(a='qv')})) AS sim
  FROM cand
),
r AS (
  SELECT query_id, vec_id, sim,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id, cast(rnk as int) AS rank, vec_id,
       cast(floor(sim * 10000) as bigint) AS sim_e4
FROM r WHERE rnk <= {k}
"""


def sql_label_centroids(src: str = "embeddings") -> str:
    # DuckDB 1.0 has no WITH ORDINALITY: index via a dim-range join
    return f"""
SELECT label, cast(d.dim as int) AS dim,
       cast(floor(avg(cast(embedding[d.dim + 1] as double)) * 1e6) as bigint) AS c_e6
FROM {src}, range(0, 4096) AS d(dim)
WHERE d.dim < len(embedding)
GROUP BY 1, 2
"""


# --- k-means (Lloyd) coarse-quantizer training -------------------------------

KMEANS_K = 8
KMEANS_ITERS = 2
KMEANS_QBITS = 20     # component quantum 2^-20 (float32 * 2^20 floors exact)


def _quantize_expr(vec: str, qbits: int = KMEANS_QBITS) -> str:
    """array<float> -> array<bigint>: floor(x * 2^qbits).  float32 ->
    float64 widening and the power-of-2 multiply are both exact, so
    Spark and DuckDB land on identical integers."""
    return (
        f"transform({vec}, x -> cast(floor(cast(x as double) "
        f"* {1 << qbits}) as bigint))"
    )


def kmeans_lloyd(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    vec: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column — the
    trainer for the IVF coarse quantizer (ivf_topk's centroids are a
    deterministic stand-in; this is the real training loop).

    Exactness contract (the reason this has a value-verified DuckDB
    twin at all): components quantize to integers (floor(x*2^20)),
    distances are integer sums of squares, and the update step is the
    FLOORED integer mean (sum - pmod(sum, n)) / n — no float
    aggregation order anywhere, so results are bit-stable across
    partitionings and engines.  Ties in argmin go to the lowest cell.

    Scale shape (the MLlib pattern): centroids are metadata (k x dim
    integers) broadcast into Column math each iteration; the only
    shuffle per iteration is the (cell, dim) mean aggregation.
    Empty cells keep their previous centroid.
    """
    cents, assigned = _lloyd_loop(emb, k, iters, vec)
    sizes = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    spark = emb.sparkSession
    cent_rows = [
        (c, d, int(v)) for c in range(k) for d, v in enumerate(cents[c])
    ]
    cdf = spark.createDataFrame(cent_rows, "cell int, d int, comp_q long")
    return cdf.join(sizes, "cell", "left").select(
        "cell", "d", "comp_q",
        F.coalesce("n_members", F.lit(0)).cast("long").alias("n_members"),
    )


def _lloyd_loop(emb: DataFrame, k: int, iters: int, vec: str):
    """Shared Lloyd iteration: -> (final centroid dict, the LAST
    assignment DataFrame (vec_id, qv, cell, d2) — i.e. the assignment
    the final centroid update was computed from, with d2 the exact
    integer distance to the assignment-time centroid)."""
    from pyspark.sql import functions as F

    q = emb.select(
        "vec_id", F.expr(_quantize_expr(vec)).alias("qv")
    )
    # init: the k lowest vec_ids' quantized vectors (deterministic)
    init = q.orderBy("vec_id").limit(k).collect()
    cents = {c: list(r["qv"]) for c, r in enumerate(init)}

    assigned = None
    for _ in range(iters):
        dist_exprs = []
        for c in range(k):
            arr = ", ".join(f"{int(v)}L" for v in cents[c])
            dist_exprs.append(
                f"aggregate(zip_with(qv, array({arr}), "
                f"(x, c) -> (x - c) * (x - c)), cast(0 as bigint), "
                f"(acc, v) -> acc + v)"
            )
        dists = f"array({', '.join(dist_exprs)})"
        assigned = q.withColumn(
            "cell",
            (F.expr(f"array_position({dists}, array_min({dists}))") - 1)
            .cast("int"),
        ).withColumn("d2", F.expr(f"array_min({dists})").cast("long"))
        comp = assigned.select(
            "cell", F.posexplode("qv").alias("d", "x")
        )
        means = (
            comp.groupBy("cell", "d")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn(
                "m",
                # exact floored mean in pure int64: (s - pmod) is
                # divisible by n, so `div` never rounds (survives
                # sums past 2^53 where long/long->double would not)
                F.expr("(s - pmod(s, n)) div n"),
            )
            .select("cell", "d", F.col("m").cast("long").alias("m"))
        )
        rows = means.collect()           # k x dim integers: metadata
        new = {}
        for r in rows:
            new.setdefault(r["cell"], {})[r["d"]] = r["m"]
        cents = {
            c: [new[c][d] for d in range(len(cents[c]))] if c in new
            else cents[c]
            for c in range(k)
        }
    return cents, assigned


def semdedup(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    threshold_e4: int = 9000,
    vec: str = "embedding",
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    dedup = k-means clustering, then INTRA-CLUSTER pairwise cosine —
    a vector i is removed when some cluster-mate j with sim(i, j) >=
    threshold precedes it in the keep order.  The published keep
    order retains the example FARTHEST from the cluster centroid
    (preserves diversity), so j precedes i iff d2_j > d2_i, vec_id
    ascending on ties; removal is pairwise-to-all within the cluster
    (the released algorithm's upper-triangle test), not iterative.

    -> (vec_id, cell, d2, keep): every vector, its cluster, exact
    integer distance-to-assignment-centroid, and the 0/1 decision.

    Scale shape: Lloyd's is the metadata-broadcast loop of
    kmeans_lloyd; the pairwise stage is a self equi-join ON THE CELL
    KEY only — cluster sizes are ~N/k by construction (the paper
    runs k ~ sqrt(N)), AQE skew-split handles hot cells, and no
    all-pairs join exists outside a cell.

    `max_cluster` is the hot-cluster guard for pathological data
    (every vector identical -> one cell -> quadratic join): cells
    larger than it are split into ceil(size / max_cluster) salted
    sub-cells (deterministic pmod(vec_id, n_sub) — shuffle-free, no
    per-cell sort) and pairs are tested within a sub-cell only.
    Pair count per cell drops from size^2 to ~size*max_cluster.
    Semantics under the cap are CONSERVATIVE: the tested pairs are a
    subset of the exact algorithm's, so removals are a subset and
    keep(capped) >= keep(exact) row-wise — documented approximation,
    default off (None = exact, the oracle path)."""
    _, assigned = _lloyd_loop(emb, k, iters, vec)
    prio = assigned.select("vec_id", "cell", "d2")
    if max_cluster is not None:
        sizes = prio.groupBy("cell").agg(F.count(F.lit(1)).alias("_cn"))
        prio = (
            prio.join(F.broadcast(sizes), "cell")
            .withColumn(
                "_nsub",
                F.greatest(
                    F.lit(1).cast("long"),
                    F.ceil(F.col("_cn") / F.lit(max_cluster)).cast("long"),
                ),
            )
            .withColumn(
                "sub", F.pmod(F.col("vec_id"), F.col("_nsub")).cast("int"))
            .drop("_cn", "_nsub")
        )
    else:
        prio = prio.withColumn("sub", F.lit(0).cast("int"))
    base = with_norm(emb, vec).select("vec_id", F.col(vec).alias("e"),
                                      "norm")
    sides = prio.join(base, "vec_id")
    i = (sides.withColumnRenamed("vec_id", "vid_i")
         .withColumnRenamed("d2", "d2_i")
         .withColumnRenamed("e", "ei").withColumnRenamed("norm", "ni"))
    j = (sides.withColumnRenamed("vec_id", "vid_j")
         .withColumnRenamed("d2", "d2_j")
         .withColumnRenamed("e", "ej").withColumnRenamed("norm", "nj"))
    sim = F.expr(_DOT.format(a="ei", b="ej")) / (F.col("ni") * F.col("nj"))
    removed = (
        i.join(j, ["cell", "sub"])
        .where(
            (F.col("d2_j") > F.col("d2_i"))
            | ((F.col("d2_j") == F.col("d2_i"))
               & (F.col("vid_j") < F.col("vid_i")))
        )
        .where(F.floor(sim * 10000).cast("long") >= threshold_e4)
        .select(F.col("vid_i").alias("vec_id"))
        .distinct()
        .withColumn("rm", F.lit(1))
    )
    return prio.join(removed, "vec_id", "left").select(
        "vec_id", "cell", "d2",
        F.when(F.col("rm").isNull(), 1).otherwise(0)
        .cast("int").alias("keep"),
    )


def sql_semdedup(src: str = "embeddings", k: int = KMEANS_K,
                 iters: int = KMEANS_ITERS,
                 threshold_e4: int = 9000,
                 qbits: int = KMEANS_QBITS) -> str:
    """DuckDB twin of semdedup: the kmeans CTE ladder, then the
    precede-pair removal test."""
    body, _, assign, dist = _sql_lloyd_ctes(src, k, iters, qbits)
    dot = _DUCK_DOT.format(a="ei.embedding", b="ej.embedding")
    ni = _DUCK_NORM.format(a="ei.embedding")
    nj = _DUCK_NORM.format(a="ej.embedding")
    return f"""
WITH {body},
prio AS (
  SELECT a.vec_id, a.cell, cast(d.d2 as bigint) AS d2
  FROM {assign} a JOIN {dist} d
    ON d.vec_id = a.vec_id AND d.cell = a.cell
),
rem AS (
  SELECT DISTINCT i.vec_id
  FROM prio i JOIN prio j ON i.cell = j.cell
    AND (j.d2 > i.d2 OR (j.d2 = i.d2 AND j.vec_id < i.vec_id))
  JOIN {src} ei ON ei.vec_id = i.vec_id
  JOIN {src} ej ON ej.vec_id = j.vec_id
  WHERE cast(floor((({dot}) / (({ni}) * ({nj}))) * 10000) as bigint)
        >= {threshold_e4}
)
SELECT p.vec_id, cast(p.cell as int) AS cell, p.d2,
       cast(CASE WHEN r.vec_id IS NULL THEN 1 ELSE 0 END as int) AS keep
FROM prio p LEFT JOIN rem r ON r.vec_id = p.vec_id
"""


def sql_kmeans_lloyd(src: str = "embeddings", k: int = KMEANS_K,
                     iters: int = KMEANS_ITERS,
                     qbits: int = KMEANS_QBITS) -> str:
    """DuckDB twin: the same integer Lloyd iterations unrolled as
    relational CTEs (centroids are ROWS, so nothing expands with k)."""
    body, ccomp, assign, _ = _sql_lloyd_ctes(src, k, iters, qbits)
    return f"""
WITH {body},
sizes AS (
  SELECT cell, cast(count(*) as bigint) AS n_members
  FROM {assign} GROUP BY 1
)
SELECT c.cell, cast(c.d as int) AS d, c.cx AS comp_q,
       coalesce(s.n_members, 0) AS n_members
FROM {ccomp} c LEFT JOIN sizes s ON s.cell = c.cell
"""


def _sql_lloyd_ctes(src: str, k: int, iters: int, qbits: int
                    ) -> tuple[str, str, str, str]:
    """-> (WITH-body, final ccomp name, final assign name, final dist
    name) — the shared Lloyd ladder for sql_kmeans_lloyd/sql_semdedup."""
    quant = (
        f"list_transform(embedding, x -> cast(floor(cast(x as double) "
        f"* {1 << qbits}) as bigint))"
    )
    parts = [
        f"""
qv AS (
  SELECT vec_id, {quant} AS qv FROM {src}
),
comp AS (
  SELECT q.vec_id, d.d, q.qv[d.d + 1] AS x
  FROM qv q JOIN range(0, 4096) AS d(d) ON d.d < len(q.qv)
),
cent0 AS (
  SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 as int) AS cell, qv
  FROM (SELECT vec_id, qv FROM qv ORDER BY vec_id LIMIT {k})
),
ccomp0 AS (
  SELECT c.cell, d.d, c.qv[d.d + 1] AS cx
  FROM cent0 c JOIN range(0, 4096) AS d(d) ON d.d < len(c.qv)
)"""
    ]
    prev = "ccomp0"
    for it in range(1, iters + 1):
        parts.append(f"""
dist{it} AS (
  SELECT p.vec_id, c.cell,
         sum((p.x - c.cx) * (p.x - c.cx)) AS d2
  FROM comp p JOIN {prev} c ON p.d = c.d
  GROUP BY 1, 2
),
assign{it} AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM dist{it}) WHERE rn = 1
),
mean{it} AS (
  SELECT a.cell, p.d,
    cast((sum(p.x) - ((sum(p.x) % count(*)) + count(*)) % count(*))
         // count(*) as bigint) AS m
  FROM assign{it} a JOIN comp p ON a.vec_id = p.vec_id
  GROUP BY 1, 2
),
ccomp{it} AS (
  SELECT c.cell, c.d, coalesce(m.m, c.cx) AS cx
  FROM {prev} c LEFT JOIN mean{it} m
    ON m.cell = c.cell AND m.d = c.d
)""")
        prev = f"ccomp{it}"
    body = ",".join(parts)
    return body, prev, f"assign{iters}", f"dist{iters}"
