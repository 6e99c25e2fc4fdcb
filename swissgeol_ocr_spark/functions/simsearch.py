"""Similarity search over embedding columns (array<float>).

* ``cosine_topk``      — brute-force exact top-k against a query vector:
                         one scan, JVM-side ``aggregate``/``zip_with``
                         arithmetic, no shuffle until the final top-k
                         (which is a tiny sort — Spark's TakeOrderedAndProject).
* ``lsh_bucket``       — the scale path: deterministic random-hyperplane
                         sign buckets; candidate generation becomes an
                         equi-join on a small bucket key instead of a full
                         cross product. Hyperplane components are pure
                         arithmetic in the vector index (engine-portable —
                         the DuckDB oracle reproduces them exactly).
* ``ivf_train``        — IVF coarse quantization: a deterministic
                         first-n-by-id codebook refined by ``iters`` Lloyd
                         rounds (``iters=0`` keeps the first-n codebook);
                         ``ivf_assign_trained`` / ``ivf_ann_trained``
                         assign and probe against it.

All math is cast to double before summing so Spark (JVM) and DuckDB agree
bit-for-bit at the rounding precision used by the driver contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors of one stored vector (excluded itself).

    The 1-row query side is crossJoin-broadcast; the scan stays pipelined
    and the global top-k is a TakeOrderedAndProject, not a full sort."""
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("_qvec")
    )
    scored = (
        embeddings.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def hyperplane_component(plane: int, j: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5):
    ((plane*8191 + j*127 + 13) * 2654435761 mod 1000)/1000 - 0.5.
    Pure integer arithmetic → identical in any SQL engine."""
    x = (F.lit(plane * 8191) + j * 127 + 13) * F.lit(2654435761)
    return F.pmod(x, F.lit(1000)).cast("double") / 1000.0 - 0.5


def lsh_bucket(vec: Column, n_planes: int = 8, plane_offset: int = 0) -> Column:
    """Sign-bucket id in [0, 2^n_planes): bit p set iff
    dot(vec, plane_{plane_offset+p}) > 0. ``plane_offset`` selects an
    independent hash table from the same deterministic plane family
    (table t passes t·n_planes).

    The sign is taken on the projection ROUNDED to 6dp: Spark's aggregate()
    folds the sum sequentially while a SQL twin's GROUP BY sum is unordered,
    so an unrounded projection epsilon-close to zero could flip the bit between
    engines (same margin trick as the cosine scores / IVF assignment)."""
    bucket = F.lit(0)

    def _times_plane(plane):
        # factory, not a default parameter: PySpark derives HOF arity from
        # the lambda signature, so `lambda x, j, p=p` would become a
        # 3-argument lambda and break F.transform
        return lambda x, j: x.cast("double") * hyperplane_component(
            plane, j.cast("long")
        )

    for p in range(n_planes):
        proj = F.aggregate(
            F.transform(vec, _times_plane(plane_offset + p)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(F.round(proj, 6) > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


QUANT = 1_000_000.0  # integer quantization for exact cross-engine means


def _rank_lists(
    embeddings: DataFrame, cents: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """Every (vector, centroid) pair — (id, _v = the vector as doubles) ×
    ``cents`` (cent_rank, cvec) — with ``_rn`` = the centroid's rank by
    cosine (rounded to 6dp: a float sum's last bits differ by summation
    order across engines), ties broken on cent_rank. ``_rn`` = 1 is the
    vector's list; one builder for the Lloyd rounds and the final
    assignment."""
    from pyspark.sql import Window

    base = embeddings.select(
        id_col, F.transform(vec_col, lambda x: x.cast("double")).alias("_v")
    )
    scored = base.crossJoin(F.broadcast(cents)).select(
        id_col, "_v", "cent_rank",
        F.round(cosine(F.col("_v"), F.col("cvec")), 6).alias("_csim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_csim"), F.asc("cent_rank"))
    return scored.withColumn("_rn", F.row_number().over(w))


def ivf_train(
    embeddings: DataFrame,
    n_lists: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic Lloyd-trained IVF codebook: start from the first
    ``n_lists`` vectors by id, then run ``iters`` k-means rounds (assign by
    max cosine, recenter on the member mean). Returns (cent_rank, cvec).
    ``iters=0`` is the untrained first-n codebook.

    Cross-engine exactness: a float mean's value depends on summation
    order, which neither Spark nor DuckDB guarantees — so components are
    quantized to integers (floor(v × 1e6)) before summing; integer sums
    are associative, and the final (sum/count)/1e6 division is then the
    identical IEEE operation in both engines. Recall improves over the
    untrained first-n codebook while staying oracle-reproducible."""
    cents = (
        embeddings.orderBy(id_col)
        .limit(n_lists)
        .select(
            F.col(id_col).alias("cent_rank"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("cvec"),
        )
    )
    for _ in range(iters):
        assigned = (
            _rank_lists(embeddings, cents, vec_col, id_col)
            .filter(F.col("_rn") == 1)
            .select("cent_rank", "_v")
        )
        sums = (
            assigned.select("cent_rank", F.posexplode("_v").alias("pos", "v"))
            .groupBy("cent_rank", "pos")
            .agg(
                F.sum(F.floor(F.col("v") * F.lit(QUANT)).cast("bigint")).alias("s"),
                F.count("*").alias("c"),
            )
        )
        comp = (F.col("s").cast("double") / F.col("c")) / F.lit(QUANT)
        new_cents = sums.groupBy("cent_rank").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), comp.alias("m")))),
                lambda x: x["m"],
            ).alias("cvec")
        )
        # a list that lost all members keeps its previous centroid
        cents = (
            cents.select("cent_rank", F.col("cvec").alias("_old"))
            .join(new_cents, "cent_rank", "left")
            .select("cent_rank", F.coalesce("cvec", "_old").alias("cvec"))
        )
    return cents


def ivf_assign_trained(
    embeddings: DataFrame,
    n_lists: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """Assignment against the Lloyd-trained codebook.

    Returns ``(assigned, ranked)``: ``assigned`` maps every vector to its
    single nearest trained list (`id, _v, ivf_list`), ``ranked`` keeps the
    full per-vector centroid ranking (`_rn` = 1..n_lists) so callers can
    take the top ``n_probes`` lists of a query vector. Shared by
    ``ivf_ann_trained`` and the recall/fraction-scanned evidence script
    (scripts/ann_curve.py) so measured scan fractions describe exactly the
    lists the search probes."""
    cents = ivf_train(embeddings, n_lists, iters, vec_col, id_col)
    ranked = _rank_lists(embeddings, cents, vec_col, id_col)
    assigned = ranked.filter(F.col("_rn") == 1).select(
        id_col, "_v", F.col("cent_rank").alias("ivf_list")
    )
    return assigned, ranked


def ivf_ann_trained(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_lists: int = 8,
    iters: int = 2,
    n_probes: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    pretrained: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Approximate top-k against the Lloyd-trained codebook with multi-list
    probing: the query scores exactly inside its ``n_probes`` nearest lists
    (the standard IVF recall knob — probing P of L lists scans ~P/L of the
    corpus). Training tracks density when embeddings are clustered; on
    structure-free uniform vectors it neither helps nor hurts much, and the
    probe count is what buys recall.

    ``pretrained`` takes an ``ivf_assign_trained(...)`` result to amortize
    the Lloyd rounds across many queries against one codebook (the normal
    serving shape — train once, probe per query)."""
    if pretrained is not None:
        assigned, ranked = pretrained
    else:
        assigned, ranked = ivf_assign_trained(
            embeddings, n_lists, iters, vec_col, id_col
        )
    q_lists = (
        ranked.filter((F.col(id_col) == query_vec_id) & (F.col("_rn") <= n_probes))
        .select(F.col("cent_rank").alias("_qlist"))
    )
    # every vector has a rank-1 assignment, so the query vector comes out
    # of `assigned` — no second scan of the raw embeddings
    q_vec = assigned.filter(F.col(id_col) == query_vec_id).select(
        F.col("_v").alias("_qvec")
    )
    return (
        assigned.filter(F.col(id_col) != query_vec_id)
        .join(F.broadcast(q_lists), F.col("ivf_list") == F.col("_qlist"))
        .crossJoin(F.broadcast(q_vec))
        .select(
            F.col(id_col),
            F.round(cosine(F.col("_v"), F.col("_qvec")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def probe_masks(n_planes: int, probe_hamming: int) -> list[int]:
    """XOR masks for the multi-probe ring: the bucket itself plus every
    bucket within Hamming distance ``probe_hamming`` (1 + C(n,1) + C(n,2)
    + ... — 37 masks at 8 planes / distance 2). Deterministic order so the
    DuckDB twin enumerates the identical probe set."""
    from itertools import combinations

    masks = [0]
    for d in range(1, probe_hamming + 1):
        masks += [
            sum(1 << b for b in bits) for bits in combinations(range(n_planes), d)
        ]
    return masks


def lsh_ann(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 2,
    probe_hamming: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: exact scoring restricted to the UNION over
    ``n_tables`` independent hash tables (table t uses hyperplanes
    [t·n_planes, (t+1)·n_planes) — same deterministic plane formula) of
    the query's bucket and its Hamming ≤ ``probe_hamming`` probe ring. A
    true neighbor straddling a few hyperplanes in one table rarely
    straddles them in the other too, so tables multiply recall where a
    deeper ring in one table merely widens it: measured recall@10 on the
    sf0.01 embeddings is 0.05 (1 table, bucket only) → 0.175 (1 table,
    H1 ring) → 0.5 (2 tables, H2 ring; pinned in tests/test_ann_recall).

    Scanned fraction stays sublinear and tunable: n_tables ·
    |probe ring| / 2^n_planes of the corpus (2·37/256 ≈ 29% here; at
    fleet scale grow n_planes so buckets stay fine — the probe set is
    always broadcast-size, the per-table candidate fetch is a
    BroadcastHashJoin against the bucket-partitioned corpus, and the
    cross-table dedup is one partial-agg shuffle over candidates only,
    never the corpus)."""
    cand = lsh_candidates(
        embeddings, query_vec_id, n_planes, n_tables, probe_hamming, vec_col, id_col
    )
    scored = cand.select(
        F.col(id_col),
        F.round(cosine(F.col("_cvec"), F.col("_qvec")), 6).alias("cos_sim"),
    )
    deduped = scored.groupBy(id_col).agg(F.max("cos_sim").alias("cos_sim"))
    return deduped.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def lsh_candidates(
    embeddings: DataFrame,
    query_vec_id: int,
    n_planes: int = 8,
    n_tables: int = 2,
    probe_hamming: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The candidate fetch ``lsh_ann`` scores: per-table probe-ring
    broadcast equi-joins, unioned across tables (cross-table duplicates
    NOT yet collapsed — the caller dedups). Shared with the evidence
    script (scripts/ann_curve.py) so the measured fraction-scanned column
    counts exactly the rows the search fetches — any change to bucketing
    or probing here moves search and measurement together. Columns:
    ``id_col``, ``_cvec`` (candidate vector), ``_qvec`` (query vector)."""
    # misconfiguration fails loudly at plan time, not as an AttributeError
    # on the None accumulator below (round-4 advice)
    assert n_tables >= 1, f"lsh_ann needs at least one hash table, got {n_tables}"
    wb = embeddings
    for t in range(n_tables):
        wb = wb.withColumn(
            f"_b{t}", lsh_bucket(F.col(vec_col), n_planes, plane_offset=t * n_planes)
        )
    masks = probe_masks(n_planes, probe_hamming)
    qrow = wb.filter(F.col(id_col) == query_vec_id)
    cand = None
    for t in range(n_tables):
        probes = F.array(
            *[F.col(f"_b{t}").bitwiseXOR(F.lit(m)) for m in masks]
        )
        q = qrow.select(
            F.col(vec_col).alias("_qvec"), F.explode(probes).alias("_probe")
        )
        c = (
            wb.filter(F.col(id_col) != query_vec_id)
            .join(F.broadcast(q), F.col(f"_b{t}") == F.col("_probe"))
            .select(F.col(id_col), F.col(vec_col).alias("_cvec"), "_qvec")
        )
        cand = c if cand is None else cand.unionByName(c)
    return cand
