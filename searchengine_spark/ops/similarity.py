"""Similarity search over embedding columns (``array<float>``):
brute-force cosine top-k (exact baseline) and sign-LSH bucketed ANN
(the scale path) — everything in JVM higher-order functions; no Python
UDFs in the hot path.

Scale notes
-----------
* Brute force is a broadcast of the query vector + one codegen'd
  ``aggregate(zip_with(...))`` pass over n rows, then
  TakeOrderedAndProject — embarrassingly parallel, no shuffle.
* Sign-LSH: bucket = sign-bit signature of the first ``nbits``
  dimensions. Bucketing is a narrow map; ``ann_topk`` scans exactly the
  query's one bucket (candidate set ~ n / 2^nbits) and probes no
  neighbor buckets, so a near vector across a sign boundary is missed
  and a sparse bucket returns fewer than k rows. ``IvfIndex`` (a
  k-means coarse quantizer probing the ``n_probe`` nearest cells) is
  the higher-recall path in the same shape: assign → bucket column →
  partition pruning.
"""

from __future__ import annotations

from math import floor as math_floor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_to_query(embeddings: DataFrame, query_vec: list[float],
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """(id, cosine) of every row vs a literal query vector."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    qn = sum(float(v) * float(v) for v in query_vec) ** 0.5
    return embeddings.select(
        F.col(id_col).cast("long").alias(id_col),
        (_dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * F.lit(qn))).alias("cosine"),
    )


def brute_force_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     exclude_id: int | None = None) -> DataFrame:
    """Exact cosine top-k; ties broken by id asc for determinism."""
    sims = cosine_to_query(embeddings, query_vec, id_col, vec_col)
    if exclude_id is not None:
        sims = sims.filter(F.col(id_col) != exclude_id)
    return sims.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def sign_lsh_bucket(vec_col, nbits: int = 16, offset: int = 0) -> F.Column:
    """Sign-bit LSH bucket id over dims [offset, offset+nbits):
    Σ_{i<nbits} (v_{offset+i} > 0) << i. ``offset`` selects an
    independent hyperplane table (disjoint dim slice)."""
    return F.aggregate(
        F.zip_with(
            F.slice(vec_col, offset + 1, nbits),
            F.sequence(F.lit(0), F.lit(nbits - 1)),
            # 2^i via pow — exact in float64 for i < 53; avoids
            # shiftleft's int-literal-only python signature
            lambda v, i: F.when(v > 0, F.pow(F.lit(2.0), i)).otherwise(F.lit(0.0)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ).cast("long")


def with_lsh_buckets(embeddings: DataFrame, nbits: int = 16,
                     vec_col: str = "embedding") -> DataFrame:
    return embeddings.withColumn("bucket", sign_lsh_bucket(F.col(vec_col), nbits))


def ann_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
             nbits: int = 16, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Bucketed ANN: scan only rows whose sign-LSH bucket equals the
    query's (partition-prunable when the table is written bucketed)."""
    qbucket = 0
    for i, v in enumerate(query_vec[:nbits]):
        if float(v) > 0:
            qbucket |= 1 << i
    cand = with_lsh_buckets(embeddings, nbits, vec_col).filter(
        F.col("bucket") == F.lit(qbucket)
    )
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def embedding_neardup_pairs(embeddings: DataFrame, threshold: float = 0.9,
                            nbits: int = 8, n_tables: int = 1,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate detection: (id_a, id_b, cosine)
    for pairs with cosine ≥ threshold, id_a < id_b.

    Scale shape: sign-LSH bucket SELF-JOIN, NOT an all-pairs cross
    join — candidate volume is Σ_buckets |bucket|², and exact cosine
    runs only inside buckets. ``n_tables`` independent hyperplane
    tables (disjoint nbits-dim slices of the embedding) are OR-ed: a
    near-dup pair straddling a sign boundary in one table is still
    caught by another — a pair is missed only if split in EVERY table
    (miss probability decays geometrically in n_tables). Candidates
    dedupe before the exact cosine pass."""
    base = embeddings.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    )
    cand = None
    for t in range(n_tables):
        b = base.withColumn(
            "bucket", sign_lsh_bucket(F.col("v"), nbits, offset=t * nbits)
        )
        x = b.select(F.col("id").alias("id_a"), "bucket")
        y = b.select(F.col("id").alias("id_b"), "bucket")
        p = (
            x.join(y, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cand = p if cand is None else cand.unionByName(p)
    cand = cand.distinct()
    return (
        cand.join(base.select(F.col("id").alias("id_a"),
                              F.col("v").alias("va")), "id_a")
        .join(base.select(F.col("id").alias("id_b"),
                          F.col("v").alias("vb")), "id_b")
        .withColumn(
            "cosine",
            _dot(F.col("va"), F.col("vb"))
            / (_norm(F.col("va")) * _norm(F.col("vb"))),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


FIXED_POINT_SCALE = 1 << 20  # 2^20: float32 * 2^20 is an exact double


def _scaled_ints(vec_col) -> F.Column:
    """Fixed-point view of an embedding: floor(v * 2^20) per dimension.

    Multiplying a float32 value by a power of two is EXACT in float64
    (pure exponent shift), and floor of an exact value is engine-
    independent — so the scaled vector is the same list of int64s in
    Spark and in any SQL oracle, with no rounding-mode ambiguity."""
    return F.transform(
        vec_col,
        lambda v: F.floor(v.cast("double") * F.lit(float(FIXED_POINT_SCALE))).cast("long"),
    )


def _int_dist(x_col, centroid: list[int]) -> F.Column:
    """Integer squared-L2 distance between a scaled vector column and a
    literal scaled centroid. All-integer arithmetic: the sum is exact,
    therefore independent of accumulation order — bitwise identical
    across engines and partitionings."""
    carr = F.array(*[F.lit(int(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(x_col, carr, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


class IvfIndex:
    """IVF (inverted-file) ANN: a k-means coarse quantizer assigns each
    vector to its nearest centroid; queries probe only the ``n_probe``
    closest centroid cells. The production-recall scale path promised in
    this module's docstring — at warehouse scale the ``centroid_id``
    column becomes the partition key of the embedding table, making a
    probe a partition-pruned scan (same shape as the term-bucket index).

    Deterministic: KMeans seeded; assignment ties broken by centroid id.
    """

    def __init__(self, assigned: DataFrame, centroids: list[list[float]],
                 id_col: str, vec_col: str):
        self.assigned = assigned          # rows + centroid_id column
        self.centroids = centroids        # centroid_id -> vector
        self.id_col = id_col
        self.vec_col = vec_col

    @staticmethod
    def fit(embeddings: DataFrame, n_centroids: int = 16, seed: int = 42,
            id_col: str = "vec_id", vec_col: str = "embedding") -> "IvfIndex":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        ml_df = embeddings.withColumn("_feat", array_to_vector(F.col(vec_col)))
        model = KMeans(k=n_centroids, seed=seed, featuresCol="_feat",
                       predictionCol="centroid_id").fit(ml_df)
        assigned = model.transform(ml_df).drop("_feat")
        centroids = [[float(x) for x in c] for c in model.clusterCenters()]
        return IvfIndex(assigned, centroids, id_col, vec_col)

    @staticmethod
    def fit_fixedpoint(embeddings: DataFrame, n_centroids: int = 8,
                       n_iter: int = 2, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> "IvfIndex":
        """Deterministic Lloyd k-means in FIXED-POINT integer arithmetic
        — the oracle-replayable quantizer used by the correctness gate.

        Every operation is exact int64 math (see ``_scaled_ints`` /
        ``_int_dist``), so the fitted cells are bit-identical no matter
        the partitioning, accumulation order, or engine — a SQL oracle
        can replay fit + probe + search and hash-match. Protocol:

        * scaled vectors  x = floor(v * 2^20) per dimension;
        * seeds           the k rows at id-ranks 1 + m*floor(n/k)
                          (ids ascending), m = 0..k-1;
        * assignment      argmin integer squared-L2, ties to the
                          smallest centroid id;
        * update          per-dim floor(sum / count) (empty cell keeps
                          its previous centroid), ``n_iter`` rounds.

        The seed scan is a distributed rank filter (row_number over
        ids, keep ranks m·⌊n/k⌋) — only the ≤k seed rows ever reach
        the driver, never the id column. The rank's global sort is
        the remaining fit-side scale cost; at warehouse scale you fit
        on a bounded deterministic sample (e.g. ids below a threshold)
        and only ASSIGNMENT runs over the full table — same shape as
        pyspark.ml's ``fit`` vs ``transform``.
        ``IvfIndex.fit`` (pyspark.ml KMeans) remains the
        production-quality quantizer; this variant trades centroid
        quality for cross-engine exactness, which is what a
        correctness gate needs.
        """
        base = embeddings.select(
            F.col(id_col).cast("long").alias(id_col),
            F.col(vec_col).alias(vec_col),
            _scaled_ints(F.col(vec_col)).alias("_xs"),
        ).cache()
        from pyspark.sql.window import Window

        n, k = base.count(), n_centroids
        step = max(1, n // k)
        # distributed seed selection: id-rank m*step for m = 0..k-1 —
        # only the ≤k seed rows are collected, never the id list
        rk = F.row_number().over(Window.orderBy(id_col)) - 1
        seed_rows = [
            (r[0], [int(v) for v in r[1]])
            for r in base.select(id_col, "_xs", rk.alias("_rk"))
            .filter((F.col("_rk") % step == 0) & (F.col("_rk") < k * step))
            .orderBy("_rk")
            .collect()
        ]
        seed_ids = [i for i, _ in seed_rows]
        cents: list[list[int]] = [xs for _, xs in seed_rows]
        dim = len(cents[0])

        def assign(df: DataFrame) -> DataFrame:
            darr = F.array(*[_int_dist(F.col("_xs"), c) for c in cents])
            return df.withColumn(
                "centroid_id",
                (F.array_position(darr, F.array_min(darr)) - 1).cast("int"),
            )

        for _ in range(n_iter):
            assigned = assign(base)
            sums = assigned.groupBy("centroid_id").agg(
                F.count("*").alias("_cnt"),
                *[
                    F.sum(F.element_at("_xs", d + 1)).alias(f"_s{d}")
                    for d in range(dim)
                ],
            ).collect()
            new_cents = list(cents)
            for row in sums:
                cid, cnt = int(row["centroid_id"]), int(row["_cnt"])
                # float(sum) FIRST, matching SQL's CAST(sum AS DOUBLE)
                # / cnt: past 2^53 per-dim sums (≈8.5e9 unit-norm
                # vectors per cell at the 2^20 scale) Python's exact
                # int/int division would round the true rational while
                # SQL rounds the sum to double first — both engines
                # must round at the same step for the replay to stay
                # bit-identical.
                new_cents[cid] = [
                    int(math_floor(float(row[f"_s{d}"]) / cnt))
                    for d in range(dim)
                ]
            cents = new_cents

        assigned = assign(base).drop("_xs")
        # release the fit-time cache: keeping a corpus-sized
        # embeddings+scaled-ints frame pinned for the session would
        # evict hotter caches. The returned plan recomputes the scaled
        # column once more if materialized later — callers running many
        # searches should cache `assigned` themselves.
        base.unpersist()
        return IvfIndex(assigned, cents, id_col, vec_col)

    def _probe_cells_fixedpoint(self, query_vec: list[float],
                                n_probe: int) -> list[int]:
        """Probe order under the fixed-point metric (integer centroids
        from ``fit_fixedpoint``)."""
        q = [int(math_floor(float(v) * FIXED_POINT_SCALE)) for v in query_vec]

        def dist(c):
            return sum((a - b) * (a - b) for a, b in zip(q, c))

        order = sorted(range(len(self.centroids)),
                       key=lambda i: (dist(self.centroids[i]), i))
        return order[:max(1, min(n_probe, len(order)))]

    def search_fixedpoint(self, query_vec: list[float], k: int = 10,
                          n_probe: int = 4) -> DataFrame:
        cells = self._probe_cells_fixedpoint(query_vec, n_probe)
        cand = self.assigned.filter(F.col("centroid_id").isin(cells))
        return brute_force_topk(cand, query_vec, k, self.id_col, self.vec_col)

    def _probe_cells(self, query_vec: list[float], n_probe: int) -> list[int]:
        import math

        def dist2(c):
            return sum((a - b) ** 2 for a, b in zip(c, query_vec))

        order = sorted(range(len(self.centroids)),
                       key=lambda i: (dist2(self.centroids[i]), i))
        return order[:max(1, min(n_probe, len(order)))]

    def search(self, query_vec: list[float], k: int = 10,
               n_probe: int = 4) -> DataFrame:
        cells = self._probe_cells(query_vec, n_probe)
        cand = self.assigned.filter(F.col("centroid_id").isin(cells))
        return brute_force_topk(cand, query_vec, k, self.id_col, self.vec_col)
