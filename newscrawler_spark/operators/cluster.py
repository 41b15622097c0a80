"""Lloyd's k-means over the embedding table — the curation clustering
primitive (SemDeDup's cluster step, arXiv:2303.09540 §3; cluster-based
data pruning, Sorscher et al. 2022, arXiv:2206.14486) that the stride
codebook in ``similarity.ivf_centroids`` is the deterministic stand-in
for.  This is the tuned-codebook path itself: k-means iterations made
engine-exact so the DuckDB gate replays every assignment and centroid
update bit-for-bit.

Cross-engine arithmetic (the repo-wide rule — no raw double sums):

* embeddings are quantized ONCE to integers at 1e4 scale with the
  pinned half-up form ``floor(cast(x as double) * 10000 + 0.5)``
  (float32→double widening is exact; a float-typed multiply would
  compute in 24-bit mantissa and diverge the engines);
* distances are exact int64 sums of squared integer differences
  (|x| ≤ ~1e4 quantized, diff² ≤ ~4e8, ×dim ≪ 2^63);
* argmin ties resolve to the smallest centroid id;
* the centroid update is ``floor(sum / count + 0.5)`` per component —
  an integer sum divided in ONE IEEE double operation, identical in
  any engine (sums stay far below 2^53);
* an emptied cluster keeps its previous centroid (pinned rule).

Initialization is the stride sample (centroid c = the quantized vector
of the MINIMUM id with ``id % K == c``) — fully relational, so the SQL
twin derives the identical start without any RNG.

Scale shape: each iteration is ONE corpus scan — assignment is a pure
codegen argmin over K literal centroid arrays (the K×dim codebook is a
bounded driver collect, exactly ``ivf_centroids``' contract; on a real
cluster it ships as a broadcast), and the update is posexplode →
groupBy(cid, component) with map-side combine, so the shuffle carries
at most partitions × K × dim partially-combined rows, never the
corpus.  K and `iterations` are bounded constants; nothing row-scaled
ever reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: quantization scale — 4 decimal digits, the repo's pinning precision.
QUANT = 10_000


def _quant_expr(vec_col: str):
    """array<bigint>: the pinned integer quantization of a float vector."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * QUANT + F.lit(0.5)).cast("long"),
    )


def _d2_expr(qcol: str, cvec: list[int]):
    """int64 squared L2 distance between quantized column and a literal
    centroid — exact integer arithmetic, whole-stage codegen."""
    lit = F.array(*[F.lit(int(c)).cast("long") for c in cvec])
    return F.aggregate(
        F.zip_with(F.col(qcol), lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _assign_struct(cents: list[tuple[int, list[int]]], qcol: str):
    """struct(d2, cid) of the nearest centroid: array_min over K codegen
    distance structs — ties break to the smallest cid by struct order."""
    return F.array_min(
        F.array(
            *[
                F.struct(_d2_expr(qcol, cvec).alias("d2"), F.lit(cid).alias("cid"))
                for cid, cvec in cents
            ]
        )
    )


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Run `iterations` exact Lloyd steps; return the final assignment
    ``(vec_id, cid, d2)`` with d2 the int64 quantized squared distance
    to the final centroid."""
    # materialize the quantized table ONCE: every Lloyd iteration, the
    # init aggregate AND the returned final-assignment plan all scan it
    # (iterations+2 consumers), and Catalyst re-executes unreferenced
    # identical subtrees — without this the parquet scan + quantize
    # transform runs per iteration.  localCheckpoint truncates lineage
    # and its blocks are GC-cleaned with the frame (the winnow_pairs
    # pattern); at cluster scale this is the standard materialize-the-
    # working-set step of any iterative algorithm.  Known trade-off for
    # MULTI-NODE deployment: localCheckpoint blocks are unreplicated
    # and lineage is gone, so an executor loss fails the job instead of
    # recomputing (and the eager materialization runs a Spark job at
    # construction).  On a real fault-domain cluster swap to
    # persist(MEMORY_AND_DISK) + count() — recomputable, same
    # scan-once effect — at the cost of keeping lineage live.
    q = embeddings.select(
        F.col(id_col).cast("long").alias("vec_id"), _quant_expr(vec_col).alias("qv")
    ).localCheckpoint(eager=True)
    # stride init: centroid c = quantized vector of min id ≡ c (mod K)
    init = (
        q.withColumn("cid", F.pmod("vec_id", F.lit(k)).cast("int"))
        .groupBy("cid")
        .agg(F.min_by("qv", "vec_id").alias("c"))
        .collect()
    )
    cents = {int(r["cid"]): [int(x) for x in r["c"]] for r in init}

    for _ in range(iterations):
        best = _assign_struct(sorted(cents.items()), "qv")
        sums = (
            q.select("vec_id", "qv", best.getField("cid").alias("cid"))
            .select("cid", F.posexplode("qv").alias("j", "x"))
            .groupBy("cid", "j")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            # ONE double division of two exact integers, then the pinned
            # half-up floor — identical IEEE sequence in the SQL twin
            .select(
                "cid", "j", F.floor(F.col("s") / F.col("n") + 0.5).cast("long").alias("c")
            )
            .collect()
        )
        new: dict[int, list[int]] = {}
        for r in sums:
            dim = len(next(iter(cents.values())))
            new.setdefault(int(r["cid"]), [0] * dim)[int(r["j"])] = int(r["c"])
        # pinned empty-cluster rule: keep the previous centroid
        cents = {cid: new.get(cid, cvec) for cid, cvec in cents.items()}

    best = _assign_struct(sorted(cents.items()), "qv")
    return q.select(
        "vec_id",
        best.getField("cid").alias("cid"),
        best.getField("d2").alias("d2"),
    )


def kmeans_sql(
    table: str = "embeddings",
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle twin: the stride init, every Lloyd step, and the
    final assignment unrolled into chained CTEs — same pinned
    quantization, int64 distances, smallest-cid ties, half-up centroid
    division, and keep-previous empty-cluster rule."""
    head = f"""
WITH qv AS (
  SELECT CAST({id_col} AS BIGINT) AS vec_id,
         list_transform({vec_col},
             x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT} + 0.5) AS BIGINT)) AS v
  FROM {table}),
c_0 AS (
  SELECT CAST(vec_id % {k} AS INT) AS cid, v AS c
  FROM (SELECT vec_id, v,
               row_number() OVER (PARTITION BY vec_id % {k} ORDER BY vec_id) AS rn
        FROM qv) s
  WHERE rn = 1)"""
    parts = [head]
    # list_sum over BIGINT is HUGEINT in DuckDB; the gate surface is BIGINT
    d2 = (
        "CAST(list_sum(list_transform(range(1, len(q.v) + 1),"
        " i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i]))) AS BIGINT)"
    )
    for t in range(1, iterations + 1):
        parts.append(f""",
a_{t} AS (
  SELECT vec_id, cid FROM (
    SELECT q.vec_id, c.cid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {d2}, c.cid) AS rn
    FROM qv q CROSS JOIN c_{t - 1} c) r WHERE rn = 1),
s_{t} AS (
  SELECT a.cid, j, CAST(floor(CAST(sum(q.v[j]) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c
  FROM a_{t} a JOIN qv q USING (vec_id), unnest(range(1, len(q.v) + 1)) AS u(j)
  GROUP BY a.cid, j),
c_{t} AS (
  SELECT p.cid,
         CASE WHEN n.c IS NULL THEN p.c ELSE n.c END AS c
  FROM c_{t - 1} p
  LEFT JOIN (SELECT cid, list(c ORDER BY j) AS c FROM s_{t} GROUP BY cid) n
    ON p.cid = n.cid)""")
    parts.append(f"""
SELECT vec_id, cid, d2 FROM (
  SELECT q.vec_id, c.cid, {d2} AS d2,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY {d2}, c.cid) AS rn
  FROM qv q CROSS JOIN c_{iterations} c) r
WHERE rn = 1""")
    return "".join(parts)
