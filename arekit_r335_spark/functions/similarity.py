"""Similarity search over the embeddings table (array<float> column).

* brute-force cosine top-k — the correctness baseline: query-set broadcast
  against the corpus, JVM-side higher-order functions (zip_with + sequential
  aggregate fold => deterministic float summation order), no Python;
* LSH-bucketed variant — the 100 TB path: sign-random-projection buckets
  prune the candidate set to same-bucket rows, with MULTI-PROBE (the query
  side additionally probes every hamming-1 neighbor bucket per table —
  implemented via a query-side explode so the bucket join stays a pure
  equi-join), then exact cosine re-rank. The bucket join is an equi-join
  the optimizer can shuffle-partition; no cross join ever materializes.

All scores are exported as integers (round(cos * 1e5)) and ranks are computed
on the ROUNDED score with id tie-breaks — engine-portable determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def _norm2(a):
    return F.aggregate(F.transform(a, lambda x: x.cast("double")
                                   * x.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def cosine_e5(a, b):
    return F.round(_dot(a, b) / (F.sqrt(_norm2(a)) * F.sqrt(_norm2(b)))
                   * 100000, 0).cast("long")


def _top_k(cand: DataFrame, k: int) -> DataFrame:
    """Exact cosine re-rank of (query_id, q_emb, neighbor_id, c_emb)
    candidates: (query_id, neighbor_id, rank, cos_e5), the ``k`` best by
    rounded cosine per query, ties broken by neighbor id."""
    scored = cand.select("query_id", "neighbor_id",
                         cosine_e5(F.col("q_emb"), F.col("c_emb"))
                         .alias("cos_e5"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_e5").desc(),
                                               F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cos_e5"))


def knn_bruteforce(embeddings: DataFrame, query_ids: list[int],
                   k: int = 10) -> DataFrame:
    """(query_id, neighbor_id, rank, cos_e5) — exact top-k by rounded cosine,
    ties broken by neighbor id."""
    q = (embeddings.filter(F.col("vec_id").isin(query_ids))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb")))
    c = embeddings.select(F.col("vec_id").alias("neighbor_id"),
                          F.col("embedding").alias("c_emb"))
    return _top_k(F.broadcast(q).crossJoin(c)
                  .filter(F.col("query_id") != F.col("neighbor_id")), k)


def _srp_bucket(emb, planes: list[list[float]]):
    """Sign-random-projection bucket id from fixed hyperplanes (deterministic
    constants, shipped in the plan — no RNG at runtime)."""
    sig = None
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(emb, F.array(*[F.lit(p) for p in plane]),
                       lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda acc, v: acc + v)
        bit = F.when(proj >= 0, F.lit(2 ** i)).otherwise(F.lit(0))
        sig = bit if sig is None else (sig + bit)
    return sig.cast("int")


def default_planes(dim: int, n_planes: int = 6) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG; no runtime RNG)."""
    planes = []
    state = 1234567891
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (2 ** 31)
            row.append((state / 2 ** 31) * 2.0 - 1.0)
        planes.append(row)
    return planes


def knn_ivf(embeddings: DataFrame, query_ids: list[int], k: int = 10,
            n_lists: int = 16, nprobe: int = 4) -> DataFrame:
    """IVF-flat ANN: inverted-file lists from deterministically sampled
    centroids, query probes the ``nprobe`` nearest lists, exact cosine
    re-rank inside the probed lists. Schema = knn_bruteforce.

    Centroid selection is the ``n_lists`` smallest ``md5(vec_id)`` rows —
    a seedless deterministic sample (engine-portable, matches the DuckDB
    oracle) — computed as a distributed TakeOrdered (``orderBy + limit``:
    per-partition top-N, driver merge of N-row heads; NEVER a global
    single-partition window) and collected (n_lists rows, driver-sized) to
    assign list ids. At 100 TB: centroids come from a seeded ``sample()``
    (+ optional Lloyd rounds) and the assignment below is unchanged — one
    broadcast cross-score against a centroid table that stays KB-sized, so
    the corpus is scanned once and shuffled once on ``list_id``. Assignment
    and probe ranking order by the ROUNDED score with centroid-id
    tie-breaks, so list membership is float-portable."""
    cent_rows = (embeddings
                 .select("vec_id", "embedding",
                         F.md5(F.col("vec_id").cast("string")).alias("__o"))
                 .orderBy("__o", "vec_id")
                 .limit(n_lists)
                 .collect())
    cent = embeddings.sparkSession.createDataFrame(
        [(i + 1, [float(x) for x in r.embedding])
         for i, r in enumerate(cent_rows)],
        "list_id int, cent_emb array<double>")

    scored_assign = (embeddings.crossJoin(F.broadcast(cent))
                     .select("vec_id", "embedding", "list_id",
                             cosine_e5(F.col("embedding"), F.col("cent_emb"))
                             .alias("a_cos")))
    wa = Window.partitionBy("vec_id").orderBy(F.col("a_cos").desc(),
                                              F.col("list_id"))
    assigned = (scored_assign
                .withColumn("__rn", F.row_number().over(wa))
                .filter(F.col("__rn") == 1)
                .select("vec_id", "embedding", "list_id"))

    probes = (assigned.filter(F.col("vec_id").isin(query_ids))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("q_emb"))
              .crossJoin(F.broadcast(cent))
              .select("query_id", "q_emb", "list_id",
                      cosine_e5(F.col("q_emb"), F.col("cent_emb"))
                      .alias("p_cos")))
    wp = Window.partitionBy("query_id").orderBy(F.col("p_cos").desc(),
                                                F.col("list_id"))
    probed = (probes.withColumn("__rn", F.row_number().over(wp))
              .filter(F.col("__rn") <= nprobe)
              .select("query_id", "q_emb", "list_id"))

    cand = (probed.join(assigned.select(F.col("vec_id").alias("neighbor_id"),
                                        F.col("embedding").alias("c_emb"),
                                        "list_id"), "list_id")
            .filter(F.col("query_id") != F.col("neighbor_id")))
    return _top_k(cand, k)


def planes_for_corpus(n_rows: int, target_bucket_rows: int = 256) -> int:
    """Bucket count must scale with the corpus: ~log2(N / target rows per
    bucket) planes keeps the expected per-bucket candidate set constant as N
    grows (a fixed plane count makes every bucket ~N/2^planes rows — a
    candidate blowup at corpus scale). Floor of 3 keeps small fixtures
    multi-bucket."""
    import math
    if n_rows <= target_bucket_rows:
        return 3
    return max(3, math.ceil(math.log2(n_rows / target_bucket_rows)))


def lsh_table_planes(n_tables: int, n_planes: int,
                     dim: int = 64) -> list[list[list[float]]]:
    """The deterministic per-table hyperplane sets (shared with the DuckDB
    oracle builder, which inlines them as literals)."""
    out = []
    for t in range(n_tables):
        planes = default_planes(dim * (t + 1), n_planes)
        out.append([p[-dim:] for p in planes])   # distinct per-table planes
    return out


def knn_lsh(embeddings: DataFrame, query_ids: list[int], k: int = 10,
            n_planes: int | None = None, n_tables: int = 6,
            dim: int = 64, n_rows: int | None = None,
            multiprobe: bool = True) -> DataFrame:
    """Approximate top-k: multi-table sign-LSH (L independent tables of a
    few planes each), union of candidates, exact cosine rerank.  Schema =
    knn_bruteforce.

    ``multiprobe=True`` (default) additionally probes every HAMMING-1
    neighbor bucket of the query's signature in each table — the classic
    multi-probe LSH trick (Lv et al., VLDB'07): a near neighbor that
    landed one sign-bit away is recovered without adding tables.
    Candidate recall goes from 1-(1-p^m)^L to 1-(1-(p^m + m*p^(m-1)(1-p)))^L
    at the cost of (1+m)x QUERY-side rows only — the corpus side is
    untouched, and the probe explosion keeps the bucket join a pure
    equi-join on (table_id, bucket), never a hamming-distance theta-join.

    ``n_planes=None`` derives the plane count from the corpus size
    (``planes_for_corpus``) so buckets stay bounded as N grows. Pass
    ``n_rows`` (e.g. from parquet/table metadata or catalog stats) to avoid
    the fallback ``count()`` action — an extra full scan per call, doubly
    wasteful when the input is a derived plan rather than a file read."""
    if n_planes is None:
        n_planes = planes_for_corpus(
            n_rows if n_rows is not None else embeddings.count())
    e = embeddings
    tables = []
    for t, planes in enumerate(lsh_table_planes(n_tables, n_planes, dim)):
        tables.append(e.select(
            "vec_id", "embedding", F.lit(t).alias("table_id"),
            _srp_bucket(F.col("embedding"), planes).alias("bucket")))
    banded = tables[0]
    for tdf in tables[1:]:
        banded = banded.unionByName(tdf)

    q = (banded.filter(F.col("vec_id").isin(query_ids))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb"),
                 "table_id", "bucket"))
    if multiprobe:
        probe_set = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i))
              for i in range(n_planes)])
        q = (q.withColumn("bucket", F.explode(probe_set)))
    c = banded.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").alias("c_emb"),
                      "table_id", "bucket")
    cand = (q.join(c, ["table_id", "bucket"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "q_emb", "neighbor_id", "c_emb")
            .dropDuplicates(["query_id", "neighbor_id"]))
    return _top_k(cand, k)
