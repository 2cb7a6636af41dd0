"""Deduplication operators over the documents table: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design:
* exact dedup = hash groupBy on md5(norm) — one shuffle, map-side partial agg;
* MinHash/LSH: shingle -> k MinHash values -> band keys -> candidate pairs via
  equi-join on band key (never an all-pairs cross join); hot bands are a skew
  risk -> AQE skew join + the band key includes the band index;
* n-gram Jaccard: shingle-set equi-join restricted to candidate pairs;
* embedding near-dup: cosine over float arrays with JVM higher-order
  functions (zip_with/aggregate) — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text_analysis import fingerprints, norm_text, shingles


def exact_dup_groups(documents: DataFrame) -> DataFrame:
    """(text_key, canonical_doc_id, dup_count) per distinct normalized text.
    Reference analog: the engine-side A2 dropDuplicates discipline applied to
    corpus text (dedup is new scope per the build brief, not in AREkit)."""
    return (documents
            .select("doc_id", F.md5(norm_text(F.col("text"))).alias("text_key"))
            .groupBy("text_key")
            .agg(F.min("doc_id").cast("long").alias("canonical_doc_id"),
                 F.count("*").cast("long").alias("dup_count")))


def minhash_signatures(documents: DataFrame, n: int = 3, k: int = 8) -> DataFrame:
    """(doc_id, minhash_0..k-1) portable MinHash signature (md5-salted)."""
    salts = tuple(f"s{i}" for i in range(k))
    return fingerprints(documents, n=n, salts=salts).drop("md5_norm")


def _band_pairs(sig: DataFrame, band_cols: list) -> DataFrame:
    """Banded candidate join: ``band_cols`` are one ``struct(band, key)``
    per band over ``sig``'s rows; docs sharing any (band, key) bucket
    become distinct (doc_a, doc_b) pairs with doc_a < doc_b."""
    banded = (sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk"))
              .select("doc_id", F.col("bk.band").alias("band"),
                      F.col("bk.key").alias("key")))
    # both sides of the self-join read the banded signatures — materialize
    # once instead of recomputing the signature subtree per side
    banded = banded.localCheckpoint(eager=False)
    a = banded.alias("a")
    b = banded.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


def lsh_candidate_pairs(documents: DataFrame, n: int = 3, k: int = 8,
                        bands: int = 4) -> DataFrame:
    """MinHash-LSH candidate pairs: signatures banded into ``bands`` groups of
    ``k/bands`` rows; a shared band bucket => candidate (doc_a < doc_b)."""
    rows = k // bands
    sig = minhash_signatures(documents, n=n, k=k)
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 F.concat_ws("#", *[F.col(f"minhash_{b * rows + r}")
                                    for r in range(rows)]).alias("key"))
        for b in range(bands)]
    return _band_pairs(sig, band_cols)


def ngram_jaccard_pairs(documents: DataFrame, n: int = 3,
                        threshold: float = 0.8,
                        candidates: DataFrame | None = None) -> DataFrame:
    """(doc_a, doc_b, inter_size, size_a, size_b) for pairs with
    Jaccard >= threshold over word n-gram shingle SETS. Exact sizes are
    integers; the float threshold is applied via cross-multiplication
    (inter * (1+t') >= t' * union scaled by 10^6) to stay integer-exact.

    With ``candidates`` (the LSH prefilter), the verify step joins each
    candidate PAIR to the two docs' aggregated shingle sets and intersects
    them with codegen ``array_intersect`` — cost ∝ candidates × shingles-
    per-doc. (A left-semi filter over the shingle-shingle self-join cannot
    do this: its condition needs doc ids from BOTH sides, so it can only
    apply above the join, after the full co-shingle pair enumeration —
    quadratic in the frequency of common shingles at corpus scale.)
    Without candidates (exact mode), the full shingle equi-join runs —
    exact recall, quadratic worst case, small corpora only."""
    t_num = int(round(threshold * 1_000_000))
    # jaccard = inter / (size_a + size_b - inter) >= t  (integer-exact)
    keep = (F.col("inter_size") * 1_000_000
            >= F.lit(t_num) * (F.col("size_a") + F.col("size_b")
                               - F.col("inter_size")))
    if candidates is not None:
        sets = (shingles(documents, n)
                .groupBy("doc_id")
                .agg(F.collect_set("shingle").alias("shs")))
        a = sets.select(F.col("doc_id").alias("doc_a"),
                        F.col("shs").alias("shs_a"))
        b = sets.select(F.col("doc_id").alias("doc_b"),
                        F.col("shs").alias("shs_b"))
        out = (candidates.join(a, "doc_a").join(b, "doc_b")
               .select("doc_a", "doc_b",
                       F.size(F.array_intersect("shs_a", "shs_b"))
                       .cast("long").alias("inter_size"),
                       F.size("shs_a").cast("long").alias("size_a"),
                       F.size("shs_b").cast("long").alias("size_b")))
        return out.filter(keep).select("doc_a", "doc_b", "inter_size",
                                       "size_a", "size_b")
    # the distinct shingle set feeds three plan branches (sizes + both join
    # sides) — materialize once
    sh = shingles(documents, n).distinct().localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    joined = a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
    inter = (joined
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").cast("long").alias("inter_size")))
    out = (inter
           .join(sizes.withColumnRenamed("doc_id", "doc_a")
                      .withColumnRenamed("sz", "size_a"), "doc_a")
           .join(sizes.withColumnRenamed("doc_id", "doc_b")
                      .withColumnRenamed("sz", "size_b"), "doc_b"))
    return out.filter(keep).select("doc_a", "doc_b", "inter_size",
                                   "size_a", "size_b")


def simhash(documents: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, simhash) — 32-bit SimHash over word tokens. Per-token hash =
    first 8 md5 hex chars (portable); bit-vote aggregation via JVM
    higher-order functions on an int array; no UDFs."""
    toks = (documents
            .select("doc_id", F.explode(
                F.split(norm_text(F.col("text")), " ")).alias("tok"))
            .filter(F.col("tok") != "")
            .select("doc_id",
                    F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
                    .cast("long").alias("h")))
    # vote per bit: sum(+1/-1); sign -> bit
    votes = toks.groupBy("doc_id").agg(*[
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1,
                     1).otherwise(-1)).alias(f"v{b}")
        for b in range(bits)])
    sim = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
        sim = bit if sim is None else (sim + bit)
    return votes.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_near_pairs(documents: DataFrame, bits: int = 32,
                       bands: int = 4,
                       max_hamming: int = 3) -> DataFrame:
    """(doc_a, doc_b, hamming) — SimHash near-duplicate SEARCH, the shape
    SimHash is actually used in at corpus scale: signatures band into
    ``bands`` bit-slices; docs sharing any band bucket become candidates
    (equi-join — never an all-pairs cross join); exact Hamming distance via
    codegen xor+bit_count verifies. By pigeonhole, any pair with
    hamming < bands shares at least one intact band, so recall is EXACT
    for ``max_hamming <= bands - 1`` (the default); larger thresholds
    degrade recall per the banding, matching the documented LSH trade-off."""
    width = bits // bands
    sig = simhash(documents, bits)
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 F.shiftright(F.col("simhash"), b * width)
                 .bitwiseAND((1 << width) - 1).alias("key"))
        for b in range(bands)]
    cand = _band_pairs(sig, band_cols)
    sa = sig.select(F.col("doc_id").alias("doc_a"),
                    F.col("simhash").alias("sim_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"),
                    F.col("simhash").alias("sim_b"))
    out = (cand.join(sa, "doc_a").join(sb, "doc_b")
           .select("doc_a", "doc_b",
                   F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
                   .cast("long").alias("hamming")))
    return out.filter(F.col("hamming") <= max_hamming)


def dims_for_corpus(n_rows: int, target_bucket_rows: int = 256,
                    max_dims: int = 20) -> int:
    """Sign-bucket dimension count scaled with the corpus — the same log2
    rule as ``similarity.planes_for_corpus``: ~log2(N / target rows) sign
    bits keep the expected per-bucket row count (and therefore the
    same-bucket self-join cost, quadratic per bucket) CONSTANT as N grows; a
    fixed dim count makes every bucket ~N/2^dims rows, a candidate blowup at
    corpus scale. Floor 3 keeps small fixtures multi-bucket; the cap bounds
    the bucket-id expression (2^20 buckets ~ a trillion-row corpus at the
    default target)."""
    from .similarity import planes_for_corpus
    return min(max_dims, planes_for_corpus(n_rows, target_bucket_rows))


def embedding_near_dup(embeddings: DataFrame, threshold: float = 0.95,
                       bucket_dims: int | None = None,
                       n_rows: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs. Scale path: LSH-ish sign-bucket on the
    first ``bucket_dims`` dimensions prunes the self-join (same-bucket only);
    exact cosine on survivors. (vec_a, vec_b, cos_e6: BIGINT).

    ``bucket_dims=None`` derives the bucket count from the corpus size
    (``dims_for_corpus``) so per-bucket candidate sets stay bounded as N
    grows; pass ``n_rows`` from table metadata to avoid the fallback
    ``count()`` action. Recall note: a true near-dup pair is missed iff the
    two vectors disagree in sign on any of the leading dims — for
    cosine >= 0.95 pairs the per-dim disagreement probability is
    acos(0.95)/pi ~ 0.101, so expected recall ~ (1-0.101)^dims (e.g. ~0.65
    at 4 dims); production pipelines that need higher recall should chain
    the multi-table SRP machinery of ``similarity.knn_lsh`` instead."""
    if bucket_dims is None:
        bucket_dims = dims_for_corpus(
            n_rows if n_rows is not None else embeddings.count())
    sig = None
    for d in range(bucket_dims):
        bit = F.when(F.element_at("embedding", d + 1) >= 0,
                     F.lit(2 ** d)).otherwise(F.lit(0))
        sig = bit if sig is None else (sig + bit)
    e = embeddings.select(F.col("vec_id"), F.col("embedding"),
                          sig.alias("bucket"))
    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.embedding"), F.col("b.embedding"),
                   lambda x, y: (x * y).cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)
    nrm = (F.sqrt(F.aggregate(F.transform(F.col("a.embedding"),
                                          lambda x: (x * x).cast("double")),
                              F.lit(0.0), lambda acc, v: acc + v))
           * F.sqrt(F.aggregate(F.transform(F.col("b.embedding"),
                                            lambda x: (x * x).cast("double")),
                                F.lit(0.0), lambda acc, v: acc + v)))
    cos = dot / nrm
    return (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"),
                    F.round(cos * 1_000_000, 0).cast("long").alias("cos_e6"))
            .filter(F.col("cos_e6") >= int(round(threshold * 1_000_000))))
