"""Embedding similarity search: brute-force cosine top-k, LSH-bucketed ANN,
and an IVF (inverted-file) variant.

Vector math stays JVM-side via F.zip_with / F.aggregate higher-order
functions (vectorized over the array column, no Python). Floats are upcast
to double before accumulation so results are engine-stable.

Scale path: brute force is one narrow scan + a top-k (TakeOrdered) — fine for
one query; for query *sets* use lsh_bucketed_topk (hyperplane buckets turn
the cross join into an equi-join) or ivf_topk (probe only the closest
partitions of a centroid index).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0),
                              lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _lit_vec(v: Sequence[float]) -> Column:
    # one array literal in one py4j call (40 ms -> 21 ms per 64-dim vector
    # of pure construction overhead vs the per-element F.lit/F.array form;
    # verified value- and hash-identical)
    return F.lit([float(x) for x in v])


def brute_force_topk(df: DataFrame, query: Sequence[float], k: int = 5,
                     vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k against one query vector. The plan is scan ->
    project -> TakeOrderedAndProject: no shuffle, k rows to the driver."""
    q = _lit_vec(query)
    return (df.select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cos"))
            .orderBy(F.desc("cos"), F.col(id_col))
            .limit(k))


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def bucket_id(vec: Column, planes: np.ndarray) -> Column:
    """Random-hyperplane LSH bucket: one bit per plane (sign of projection)."""
    bit_terms = []
    for i, p in enumerate(planes):
        b = F.when(dot(vec, _lit_vec(p)) > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bit_terms.append(F.shiftleft(b, i))
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out.bitwiseXOR(t)
    return out


def lsh_bucketed_topk(df: DataFrame, query: Sequence[float], k: int = 5,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      n_planes: int = 8, seed: int = 7,
                      multiprobe: int = 0) -> DataFrame:
    """ANN: restrict the exact scan to vectors in the query's hyperplane
    bucket, plus (``multiprobe`` > 0) every bucket within that Hamming radius
    of it — the standard multi-probe LSH recall lever. At multiprobe=0 the
    scan fraction is ~1/2^n_planes with recall well below 1; each +1 of
    radius trades scan volume for recall. At scale the bucket is the table's
    partition key, so probing is partition pruning (the probed bucket set is
    enumerable driver-side: sum of C(n_planes, r) buckets)."""
    planes = _hyperplanes(len(query), n_planes, seed)
    qbits = 0
    qn = np.asarray(query, dtype=np.float64)
    for i, p in enumerate(planes):
        if float(np.dot(qn, p)) > 0:
            qbits |= 1 << i
    bucketed = df.withColumn("_bucket", bucket_id(F.col(vec_col), planes))
    probe = F.bit_count(F.col("_bucket").bitwiseXOR(F.lit(qbits))) <= multiprobe \
        if multiprobe > 0 else F.col("_bucket") == qbits
    return (bucketed.where(probe)
            .select(F.col(id_col), F.round(cosine(F.col(vec_col), _lit_vec(query)), 6).alias("cos"))
            .orderBy(F.desc("cos"), F.col(id_col))
            .limit(k))


# --- engine-exact LSH (the gate contract) ------------------------------------
#
# Rademacher (+/-1) hyperplanes derived from a multiplicative integer mix, and
# integer-quantized projections (floor(x * 1e6) per element): every step is
# computable identically in Spark and ANSI SQL, so the *probed bucket set*
# itself is part of the oracle-checkable contract — the gate asserts "exact
# top-k over the probed buckets" and is green at any scale by construction
# (no recall tuning involved). Sign-random-projection with +/-1 entries is the
# standard SimHash/angular LSH family (Charikar, STOC'02).

_MIX_A = 2654435761  # Knuth multiplicative hash constants
_MIX_B = 40503
_MIX_C = 2246822519
_MOD = 1 << 32


def rademacher_weight(j: int, d: int) -> int:
    """+1/-1 pseudo-random weight for plane j, dimension d (d is 1-based to
    match SQL generate_series). Top bit of a multiplicative mix — exactly
    reproducible in SQL with HUGEINT intermediates."""
    h = (j * _MIX_A + d * _MIX_B) % _MOD
    h = (h * _MIX_C) % _MOD
    return 1 if (h >> 31) == 0 else -1


def rademacher_planes(dim: int, n_planes: int) -> list[list[int]]:
    return [[rademacher_weight(j, d) for d in range(1, dim + 1)]
            for j in range(n_planes)]


_QUANTUM = 1000000.0  # the engine-exact quantum shared by LSH buckets and IVF centroids


def _int_elem(x: Column) -> Column:
    """Quantize one float element to integer 1e-6 units: one float64 multiply
    + floor (order-free), after which the arithmetic is exact in Spark,
    Python, and ANSI SQL alike."""
    return F.floor(x.cast("double") * F.lit(_QUANTUM)).cast("long")


def int_bucket_id(vec_col_name: str, planes: list[list[int]]) -> Column:
    """Hyperplane bucket from integer projections — bit j set iff the exact
    integer dot of the quantized vector with plane j is > 0.

    Built as ONE parsed SQL expression (takes the vector COLUMN NAME):
    composing dim × n_planes literal Columns through py4j cost ~1 s of
    driver time per query construction (same rationale as dedup.simhash).
    The quantized vector binds ONCE under the lambda variable `iv` of a
    single-element transform scope; plane weights inline as SQL long
    literals. Bit-identical to the old Column composition
    (differential-pinned in pytest)."""
    terms = []
    for j, w in enumerate(planes):
        warr = ", ".join(f"{int(x)}L" for x in w)
        proj = (f"aggregate(zip_with(iv, array({warr}), (x, y) -> x * y), "
                f"0L, (acc, x) -> acc + x)")
        # coalesce keeps the old Column spec's NULL behavior (a NULL vector
        # element made `proj > 0` NULL; F.when(...).otherwise(0) mapped it
        # to bit 0 — without it the whole bucket would go NULL and the row
        # would silently vanish from the candidate set)
        terms.append(
            f"shiftleft(CAST(coalesce({proj} > 0, false) AS BIGINT), {j})")
    safe = vec_col_name.replace("`", "``")
    quant = (f"transform(`{safe}`, "
             "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))")
    # disjoint bit positions: + == OR
    return F.expr(
        f"element_at(transform(array({quant}), iv -> {' + '.join(terms)}), 1)")


def lsh_probed_topk(df: DataFrame, query_id: int = 0, k: int = 5,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    n_planes: int = 6, multiprobe: int = 2) -> DataFrame:
    """ANN top-k with the engine-exact bucket contract: score exact cosines
    over every vector whose bucket is within Hamming `multiprobe` of the
    query's bucket. The scanned fraction is sum(C(n_planes, r<=multiprobe)) /
    2^n_planes; at scale the bucket is the table's partition key, so the probe
    set is partition pruning. The probed-set membership is bit-for-bit
    reproducible in ANSI SQL (see O_ANN_LSH_PROBED in queries.py)."""
    import math

    qrow = df.where(F.col(id_col) == query_id).select(vec_col).first()
    if qrow is None:
        raise ValueError(f"query vector {id_col}={query_id!r} not found")
    query = qrow[vec_col]
    planes = rademacher_planes(len(query), n_planes)
    # the query's bucket computes driver-side with the same exact integer
    # arithmetic (python ints == Spark longs here) — one driver fetch total
    iq = [math.floor(float(x) * 1e6) for x in query]
    qbucket = 0
    for j, w in enumerate(planes):
        if sum(wi * xi for wi, xi in zip(w, iq)) > 0:
            qbucket |= 1 << j
    bucketed = df.withColumn("_bucket", int_bucket_id(vec_col, planes))
    return (bucketed
            .where(F.bit_count(F.col("_bucket").bitwiseXOR(F.lit(qbucket))) <= multiprobe)
            .select(F.col(id_col), F.round(cosine(F.col(vec_col), _lit_vec(query)), 6).alias("cos"))
            .orderBy(F.desc("cos"), F.col(id_col))
            .limit(k))


def ivf_build_centroids(df: DataFrame, n_lists: int = 8, vec_col: str = "embedding",
                        id_col: str = "vec_id", iters: int = 2) -> list[list[float]]:
    """Tiny deterministic k-means: init from the n_lists lowest-id vectors,
    refine with `iters` Lloyd steps (each one scan + one small groupBy).

    Centroid means are computed as EXACT integer sums of 1e-6-quantized
    elements divided by the count — a float F.avg across a shuffle is
    summation-order-dependent at the ULP level, which would make centroids
    (and therefore borderline list assignments, probe choices, and the gate)
    a run-to-run coin flip. Integer sums make the whole index build a pure
    function of the data."""
    cents = [list(map(float, r[vec_col])) for r in
             df.orderBy(id_col).limit(n_lists).select(vec_col).collect()]
    dim = len(cents[0])
    for _ in range(iters):
        assigned = assign_lists(df, cents, vec_col, id_col)
        # per-element quantization (same engine-exact quantum as the LSH
        # contract), one column per dimension so each row costs O(dim)
        qcol = [F.sum(_int_elem(F.col(vec_col).getItem(i))).alias(f"s{i}")
                for i in range(dim)]
        means = (assigned.groupBy("list_id")
                 .agg(F.count(F.lit(1)).alias("_n"), *qcol)
                 .collect())
        new = {r["list_id"]: [r[f"s{i}"] / (r["_n"] * _QUANTUM) for i in range(dim)]
               for r in means}
        cents = [new.get(i, cents[i]) for i in range(len(cents))]
    return [list(map(float, c)) for c in cents]


def assign_lists(df: DataFrame, centroids: list, vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """Assign each vector to its nearest centroid (argmax cosine), via an
    array of per-centroid similarities — one projection, no join."""
    sims = F.array(*[cosine(F.col(vec_col), _lit_vec(c)) for c in centroids])
    return (df.withColumn("_sims", sims)
            .withColumn("list_id", (F.array_position(F.col("_sims"), F.array_max(F.col("_sims"))) - 1)
                        .cast("int"))
            .drop("_sims"))


def _probe_lists(query: Sequence[float], centroids: list,
                 n_probe: int) -> list[int]:
    """The n_probe nearest centroid indices by cosine — the ONE probe-choice
    definition shared by the in-memory and persisted-index paths (their
    pytest-pinned result equality depends on identical tie-breaking and
    epsilon here)."""
    qn = np.asarray(query, dtype=np.float64)

    def cos_np(c):
        c = np.asarray(c, dtype=np.float64)
        return float(np.dot(qn, c) / (np.linalg.norm(qn) * np.linalg.norm(c) + 1e-12))

    return sorted(range(len(centroids)), key=lambda i: -cos_np(centroids[i]))[:n_probe]


def ivf_topk(df: DataFrame, query: Sequence[float], centroids: list, k: int = 5,
             n_probe: int = 2, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """IVF search: score centroids on the driver, scan only the n_probe
    closest lists. At scale the lists are the table's partition key, so this
    is partition pruning, not a filter."""
    probe = _probe_lists(query, centroids, n_probe)
    assigned = assign_lists(df, centroids, vec_col, id_col)
    return (assigned.where(F.col("list_id").isin(probe))
            .select(F.col(id_col), F.round(cosine(F.col(vec_col), _lit_vec(query)), 6).alias("cos"))
            .orderBy(F.desc("cos"), F.col(id_col))
            .limit(k))


def cosine_neardup_pairs(df: DataFrame, threshold: float = 0.99,
                         vec_col: str = "embedding", id_col: str = "vec_id",
                         n_planes: int = 6, seed: int = 7,
                         dim: Optional[int] = None, exact: bool = False) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= threshold), a < b.

    exact=True does the full self-join (oracle-checkable, small inputs);
    otherwise pairs are restricted to shared LSH buckets (the scale path —
    the self-join becomes an equi-join on bucket).
    """
    a = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    if exact:
        joined = a.crossJoin(b)
    else:
        if dim is None:
            dim = len(df.select(vec_col).first()[0])
        planes = _hyperplanes(dim, n_planes, seed)
        ab = df.withColumn("_bucket", bucket_id(F.col(vec_col), planes))
        a = ab.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"), "_bucket")
        b = ab.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"), "_bucket")
        joined = a.join(b, "_bucket")
    return (joined.where(F.col("a") < F.col("b"))
            .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
            .where(F.col("cos") >= threshold)
            .select("a", "b", "cos").distinct())


def build_ivf_index(df: DataFrame, path: str, n_lists: int = 8,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    iters: int = 2) -> list[list[float]]:
    """Materialize the production IVF index shape: the assigned table is
    WRITTEN PARTITIONED BY list_id (plus a centroids sidecar), so probing
    n_probe lists is genuine partition pruning — the scan never touches the
    other lists' files. This is the claim the in-memory ``ivf_topk`` path
    makes about scale; here it is physically true and plan-verified in
    pytest (PartitionFilters on list_id, only probed partitions read).

    Build cost: the centroid refinement scans (ivf_build_centroids) plus
    ONE assignment pass and one partitioned write. Returns the centroids
    (also persisted as JSON for probe-time reload)."""
    import json
    import os

    cents = ivf_build_centroids(df, n_lists, vec_col, id_col, iters)
    assigned = assign_lists(df, cents, vec_col, id_col)
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(
        os.path.join(path, "lists"))
    with open(os.path.join(path, "centroids.json"), "w") as f:
        json.dump(cents, f)
    return cents


def ivf_index_topk(spark, path: str, query: Sequence[float], k: int = 5,
                   n_probe: int = 2, vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Probe a persisted IVF index: centroids score driver-side (tiny), the
    n_probe nearest lists become a partition-pruning predicate on the
    partitioned assignments table, and exact cosine ranks only the scanned
    rows. Identical results to ``ivf_topk`` on the same data/centroids
    (pytest-pinned) — but the I/O is proportional to the probed lists, not
    the corpus."""
    import json
    import os

    with open(os.path.join(path, "centroids.json")) as f:
        cents = json.load(f)
    probe = _probe_lists(query, cents, n_probe)
    lists = spark.read.parquet(os.path.join(path, "lists"))
    return (lists.where(F.col("list_id").isin(probe))
            .select(F.col(id_col),
                    F.round(cosine(F.col(vec_col), _lit_vec(query)), 6).alias("cos"))
            .orderBy(F.desc("cos"), F.col(id_col))
            .limit(k))


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column:
    ``scale = max(|x|)/127``, ``q_i = round(x_i / scale)`` — the 4×
    storage/IO compression step for a 100-TB embedding store (float32
    parquet → tinyint arrays), with the per-vector scale kept alongside so
    scoring can dequantize on the fly.

    Returns ``(id_col, q array<tinyint>, scale double)``. Pure array
    expressions (transform/aggregate) — whole-stage codegen, no UDF, no
    shuffle. The all-zero vector quantizes to zeros with scale 0 (guarded
    division). Deterministic: a pure function of each row's floats."""
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = mx / F.lit(127.0)
    q = F.when(mx == 0.0, F.transform(v, lambda x: F.lit(0).cast("tinyint"))) \
        .otherwise(F.transform(
            v, lambda x: F.round(x.cast("double") / scale).cast("tinyint")))
    return df.select(F.col(id_col), q.alias("q"), scale.alias("scale"))


def cosine_int8(qa: Column, qb: Column) -> Column:
    """Cosine over two int8-quantized vectors. Symmetric quantization
    preserves direction, and cosine normalizes magnitude — so the
    per-vector scales CANCEL and never need to be read at scoring time:
    cos(q_a, q_b) ≈ cos(a, b) with error bounded by the rounding step
    (≤ 1/254 per element relative; pytest pins the observed bound and
    top-k agreement on the embeddings table)."""
    return cosine(qa, qb)


def quantized_topk(df: DataFrame, query: Sequence[float], k: int = 5,
                   id_col: str = "vec_id") -> DataFrame:
    """Exact-cosine top-k over the QUANTIZED relation (from
    :func:`quantize_int8`): same TakeOrderedAndProject shape as
    ``brute_force_topk`` but scanning tinyint arrays — ~4× less IO."""
    mx = max(abs(float(x)) for x in query) or 1.0
    qq = [round(float(x) / (mx / 127.0)) for x in query]
    return (df.select(F.col(id_col),
                      F.round(cosine_int8(F.col("q"), _lit_vec(qq)), 6)
                      .alias("cos"))
            .orderBy(F.desc("cos"), F.col(id_col))
            .limit(k))


def hash_embed(df: DataFrame, dim: int = 64, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Deterministic feature-hashing embeddings (the hashing trick): each
    whitespace token lands in bucket ``xxhash64(token) mod dim`` with a
    second independent hash choosing its sign (the standard variance
    reduction — collisions cancel instead of compounding), then the
    per-document bucket counts L2-normalize into a dense
    ``array<double>`` ready for every ANN operator in this module
    (cosine/LSH/IVF). No model, no Python: a pure function of the text, so
    embeddings are reproducible across runs/engines/partitionings and a
    query string embeds identically at search time.

    Returns ``(id_col, embedding)``; empty/blank documents embed as the
    zero vector. Scale shape: explode map-side, ONE (doc, bucket) shuffle
    with map-side combine, then the per-doc regroup assembles the dense
    array via map_from_entries + transform — whole-stage codegen, no
    UDF."""
    if dim < 1:
        raise ValueError("dim must be >= 1")
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"))
    toks = toks.where(F.length("tok") > 0)
    b = F.pmod(F.xxhash64("tok"), F.lit(dim)).cast("int").alias("b")
    sign = F.when(F.pmod(F.xxhash64("tok", F.lit(1)), F.lit(2)) == 0,
                  F.lit(1.0)).otherwise(F.lit(-1.0)).alias("s")
    counts = (toks.select(id_col, b, sign)
              .groupBy(id_col, "b").agg(F.sum("s").alias("v")))
    dense = (counts.groupBy(id_col)
             .agg(F.map_from_entries(
                 F.collect_list(F.struct("b", "v"))).alias("m")))
    arr = F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                      lambda i: F.coalesce(
                          F.element_at(F.col("m"), i), F.lit(0.0)))
    nrm = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x))
    unit = F.when(nrm == 0.0, arr).otherwise(
        F.transform(arr, lambda x: x / nrm))
    embedded = dense.select(F.col(id_col), unit.alias("embedding"))
    # empty docs produce no token rows — restore them as zero vectors so
    # the output has one row per input document
    zeros = (df.select(id_col).join(dense.select(id_col), id_col, "left_anti")
             .withColumn("embedding",
                         F.array_repeat(F.lit(0.0), dim)))
    return embedded.unionByName(zeros)


# ------------------------------------------------------------------------------
# Random projection (Johnson-Lindenstrauss) — embedding dim reduction
# ------------------------------------------------------------------------------

def jl_sign_matrix(in_dim: int, out_dim: int, seed: str = "jl") -> list:
    """Deterministic Rademacher (+1/-1) matrix derived from md5(seed:k:i) —
    a pure function of (dims, seed), so index build and query side always
    agree, and a resumed job re-derives the identical projection."""
    import hashlib

    return [[1 if hashlib.md5(f"{seed}:{k}:{i}".encode()).digest()[0] % 2
             else -1
             for i in range(in_dim)]
            for k in range(out_dim)]


def project_embeddings(df: DataFrame, in_dim: int, out_dim: int,
                       vec_col: str = "embedding", out_col: str = "proj",
                       seed: str = "jl") -> DataFrame:
    """Johnson-Lindenstrauss random projection: ``out[k] =
    Σ_i vec[i]·sign(k,i) / sqrt(out_dim)`` with the deterministic
    Rademacher matrix above. The JL lemma bounds pairwise-distance
    distortion, so ANN/near-dup pipelines can run on 4-8× narrower
    vectors (storage/shuffle/compute all shrink) with bounded recall
    loss — pytest pins linearity, determinism, norm concentration, and
    top-k agreement with the unprojected exact path.

    Spark shape: the sign matrix rides into the plan as literals
    (driver-computed once, never a per-row hash), each output component
    is one ordered ``aggregate(zip_with(...))`` over the input array —
    pure whole-stage codegen, no UDF, no shuffle. Floats are ordered
    sums, deterministic per row, but not SQL-oracle-gated (float
    functional — same doctrine as the int8 quantization path).
    """
    if in_dim < 1 or out_dim < 1:
        raise ValueError("dims must be >= 1")
    signs = jl_sign_matrix(in_dim, out_dim, seed)
    inv = 1.0 / (out_dim ** 0.5)
    # loud-misuse guard (the zorder_value pattern, ADVICE r6): a row whose
    # embedding length differs from in_dim would otherwise zip_with-pad
    # with NULLs and silently yield a NULL projection; NULL embeddings
    # still project to NULL (size(NULL) is NULL -> no error)
    src = F.when(
        F.size(F.col(vec_col)) != in_dim,
        F.raise_error(F.lit(
            f"project_embeddings: embedding length != in_dim={in_dim}"))
    ).otherwise(F.col(vec_col))
    vec = F.transform(src, lambda x: x.cast("double"))
    comps = [
        (F.aggregate(
            F.zip_with(vec,
                       F.array(*[F.lit(float(s)) for s in signs[k]]),
                       lambda x, s: x * s),
            F.lit(0.0), lambda acc, y: acc + y) * F.lit(inv)).alias(f"_c{k}")
        for k in range(out_dim)]
    return df.withColumn(out_col, F.array(*comps))
