"""Distributed Lloyd's k-means over an embedding column.

The engine's IVF index (:mod:`.similarity`) ships with deterministic
stand-in centroids and its docstring says the real pipeline "trains
centroids offline (k-means over a sample)" — this module IS that
offline trainer, and its output plugs straight into
``ann_ivf(..., centroids=...)`` / ``semdedup``.

**Exact integer k-means.** Float centroid means are addition-order-
dependent (groupBy sum order varies with partitioning), which breaks
both the cross-engine oracle and the parallelism-invariance contract —
the same reason :func:`..operators.graph.host_pagerank` is integral.
So every embedding component is quantized ONCE to a long
(``floor(x·scale + 0.5)``, identical IEEE ops in Spark and DuckDB) and
all downstream arithmetic is integral:

* assignment: squared L2 distance in the quantized domain (exact —
  sums of longs), argmin with lowest-cell tiebreak
  (``array_position`` returns the FIRST index of the min);
* update: componentwise ``sum div count`` (truncating integral div —
  DuckDB's ``//`` matches Spark's ``div`` on negatives too);
* empty cell: keeps its previous centroid (the classic Lloyd
  convention, deterministic).

Results are therefore bit-identical across engines, partitionings and
parallelism levels, and the DuckDB oracle can unroll the iterations as
plain CTEs (:func:`kmeans_oracle_sql`) — an independent re-derivation,
not a golden file.

Scale shape (the MLlib plan): centroids are a k×dim literal broadcast
into the assignment expression — the full-corpus pass is pure
whole-stage codegen with NO join and NO shuffle; the update is one
``groupBy(cell)`` whose map-side partial aggregation reduces each
partition to ≤ k×(dim+1) longs before the exchange, so the shuffle is
O(partitions·k·dim) regardless of corpus size. The ONLY driver-side
rows are the k centroids per iteration (k·dim longs) and the k-row
init sample — never corpus-sized. The quantized input is persisted
once (loop-invariant) and unpersisted on exit. At 10^9 vectors ×
768 dims × k=65536 the literal-expression form stops compiling —
the documented pivot is broadcast-join assignment (centroids as a
broadcast DataFrame, argmin via min_by over the joined pairs), same
math, one extra broadcast; the update stays identical.

Init is the k smallest ids (``orderBy(id).limit(k)`` —
TakeOrderedAndProject, parallel partial top-k): deterministic and
sample-cheap. k-means++ would need k sequential corpus passes; for an
IVF coarse quantizer the classic fix is running this trainer on a
hash-sampled slice (``hash_sample``) instead.

Reference parity: the reference repo has no vector pipeline; this is
part of the engine's LLM-training-data surface (brief: similarity
search / IVF scale path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: component quantization scale — 1e6 keeps unit-norm embedding sums
#: far inside long range: |comp| ≤ ~1e6, dist² ≤ dim·4e12, corpus
#: component sums ≤ n·1e6.
DEFAULT_SCALE = 10**6


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division (Spark ``div`` / Java semantics).

    Python's ``//`` floors; Spark and DuckDB truncate toward zero —
    driver-side centroid math must match the engines exactly.
    """
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def quantize_col(vec, scale: int = DEFAULT_SCALE):
    """``array<float> -> array<long>`` via ``floor(x·scale + 0.5)`` —
    floor is exact on doubles and identical in Spark and DuckDB (no
    round-half-mode ambiguity)."""
    return F.transform(
        vec, lambda x: F.floor(x * F.lit(float(scale)) + F.lit(0.5)).cast("long")
    )


def assign_cells_col(qvec, centroids: list[list[int]]):
    """(cell, dist2) struct column: argmin over centroid literals with
    lowest-index tiebreak (``array_position`` finds the first min).

    Two r06 rewrites, same math:

    * the k×dim centroid table enters the plan as ONE parsed SQL
      ``array(array(..L))`` literal instead of k·dim ``F.lit`` Column
      calls — building the old expression cost ~0.9s of driver-side
      py4j round-trips per iteration, more than the 2000-row Spark job
      it described;
    * the distance array and the input vector are bound as lambda
      variables (textstats.bind_once rationale), so the argmin/min
      references cannot re-inline the k integer folds.
    """
    from .textstats import bind_once

    cents = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{int(c)}L" for c in cent) + ")"
            for cent in centroids
        )
        + ")"
    )

    def _pick(qv):
        dists = F.transform(
            cents,
            lambda c: F.aggregate(
                F.zip_with(qv, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )
        return bind_once(
            dists,
            lambda ds: F.struct(
                (F.array_position(ds, F.array_min(ds)) - F.lit(1))
                .cast("int")
                .alias("cell"),
                F.array_min(ds).alias("dist2"),
            ),
        )

    return bind_once(qvec, _pick)


def kmeans_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 3,
    scale: int = DEFAULT_SCALE,
) -> tuple[DataFrame, list[list[int]]]:
    """Train k-means; return ``(assignments, centroids)``.

    ``assignments`` is (id_col, cell int, dist2 long) — the FINAL
    assignment under the trained centroids (i.e. ``n_iter`` update
    steps, then one closing assignment pass). ``centroids`` is the
    trained k×dim integer table (quantized domain), ready to feed an
    IVF index after ``/scale`` de-quantization.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = df.select(
        F.col(id_col), quantize_col(F.col(vec_col), scale).alias("q")
    ).persist()  # loop-invariant: every iteration re-scans this
    try:
        init_rows = q.orderBy(id_col).limit(k).collect()  # k rows, tiny
        if not init_rows:
            empty = df.select(
                F.col(id_col),
                F.lit(0).cast("int").alias("cell"),
                F.lit(0).cast("long").alias("dist2"),
            )
            return empty, []
        centroids = [list(r.q) for r in init_rows]
        dim = len(centroids[0])
        for _ in range(int(n_iter)):
            a = q.select(
                "q", assign_cells_col(F.col("q"), centroids)["cell"].alias("cell")
            )
            # F.expr per component: one parsed string beats two py4j
            # Column calls each at dim=64+ (r06 driver-overhead fix)
            sums = a.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n"),
                *[F.expr(f"sum(q[{i}]) AS s{i}") for i in range(dim)],
            )
            got = {int(r.cell): r for r in sums.collect()}  # ≤ k rows
            centroids = [
                [_tdiv(int(got[j][f"s{i}"]), int(got[j].n)) for i in range(dim)]
                if j in got
                else centroids[j]  # empty cell keeps its centroid
                for j in range(len(centroids))
            ]
        # final assignment re-derives from the RAW input (fresh
        # quantization + final-centroid literals): the result carries no
        # dependency on the persisted loop intermediate, so no
        # corpus-sized checkpoint is needed and the cache can be freed
        # here regardless of when the caller acts
        st = assign_cells_col(quantize_col(F.col(vec_col), scale), centroids)
        out = df.select(
            F.col(id_col),
            st["cell"].alias("cell"),
            st["dist2"].alias("dist2"),
        )
        return out, centroids
    finally:
        q.unpersist()


def kmeans_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 3,
    scale: int = DEFAULT_SCALE,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`kmeans_train`: the iterations unrolled as
    CTEs — an independent integral k-means, bit-identical by the module
    contract (assignment via windowed argmin with the same (dist2,
    cell) tiebreak; update via ``SUM(q[i]) // COUNT(*)`` per dimension;
    empty cells inherit via LEFT JOIN + COALESCE).

    The scale factor is rendered as ``CAST(.. AS DOUBLE)``, never as a
    decimal literal: DuckDB parses ``1000000.0`` as DECIMAL(8,1) and
    FLOAT×DECIMAL quantizes off-by-one at floor boundaries (found
    empirically — 127/32000 components flipped on the sf0.01 fixture).
    """
    sql = f"""
        WITH vecs AS (
            SELECT {id_col},
                   list_transform({vec_col},
                       x -> CAST(floor(x * CAST({scale} AS DOUBLE)
                                       + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   ) AS q
            FROM {table}
        ),
        c0 AS (
            SELECT CAST(row_number() OVER (ORDER BY {id_col}) - 1 AS INT)
                       AS cell, q
            FROM (SELECT {id_col}, q FROM vecs ORDER BY {id_col} LIMIT {k})
        )"""
    prev = "c0"
    for it in range(1, int(n_iter) + 1):
        sql += f""",
        s{it} AS (
            SELECT v.{id_col}, c.cell,
                   CAST(list_sum(list_transform(generate_series(1, {dim}),
                        i -> (v.q[i] - c.q[i]) * (v.q[i] - c.q[i])))
                     AS BIGINT) AS dist2
            FROM vecs v CROSS JOIN {prev} c
        ),
        a{it} AS (
            SELECT {id_col}, cell FROM (
                SELECT {id_col}, cell,
                       row_number() OVER (PARTITION BY {id_col}
                                          ORDER BY dist2, cell) AS rn
                FROM s{it}
            ) WHERE rn = 1
        ),
        u{it} AS (
            SELECT cell, list(comp ORDER BY i) AS q FROM (
                SELECT a.cell, s.i,
                       CAST(SUM(v.q[s.i]) // COUNT(*) AS BIGINT) AS comp
                FROM a{it} a
                JOIN vecs v USING ({id_col})
                CROSS JOIN (SELECT UNNEST(generate_series(1, {dim})) AS i) s
                GROUP BY a.cell, s.i
            ) GROUP BY cell
        ),
        c{it} AS (
            SELECT c.cell, COALESCE(u.q, c.q) AS q
            FROM {prev} c LEFT JOIN u{it} u USING (cell)
        )"""
        prev = f"c{it}"
    sql += f""",
        sf AS (
            SELECT v.{id_col}, c.cell,
                   CAST(list_sum(list_transform(generate_series(1, {dim}),
                        i -> (v.q[i] - c.q[i]) * (v.q[i] - c.q[i])))
                     AS BIGINT) AS dist2
            FROM vecs v CROSS JOIN {prev} c
        )
        SELECT {id_col}, CAST(cell AS INT) AS cell, dist2 FROM (
            SELECT {id_col}, cell, dist2,
                   row_number() OVER (PARTITION BY {id_col}
                                      ORDER BY dist2, cell) AS rn
            FROM sf
        ) WHERE rn = 1"""
    return sql
