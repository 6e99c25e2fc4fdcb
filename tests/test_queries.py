"""Local replica of the driver's correctness gate: run every Spark query
and its DuckDB oracle on the same parquet tables and compare row count,
column names and (order-insensitively) values."""

import math

import duckdb
import pytest

from swissgeol_ocr_spark.plans.queries import QUERIES, TABLES

SF_DIR = "/root/testdata/sf0.01"


def _duck(sql: str, sf_dir: str = SF_DIR):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con.sql(sql).fetchdf()


def _canon(df):
    """Sort columns by name and rows by all values → comparable frame."""
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _values_equal(a, b) -> bool:
    if a.shape != b.shape:
        return False
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for x, y in zip(av, bv):
            if isinstance(x, float) or isinstance(y, float):
                if not (
                    (isinstance(x, float) and isinstance(y, float))
                    or (x is None and y is None)
                ):
                    xf = float(x) if x is not None else math.nan
                    yf = float(y) if y is not None else math.nan
                else:
                    xf, yf = float(x), float(y)
                if math.isnan(xf) and math.isnan(yf):
                    continue
                if abs(xf - yf) > 1e-9 * max(1.0, abs(xf), abs(yf)):
                    return False
            elif str(x) != str(y):
                return False
    return True


ORACLE_QUERIES = [name for name, (_, sql) in QUERIES.items() if sql is not None]
ROWS_ONLY = [name for name, (_, sql) in QUERIES.items() if sql is None]


def _static_reuse_plan(spark, build):
    """Executed-plan string under the deterministic static-ReuseExchange
    regime (AQE off, both broadcast thresholds -1) — the same conf guard
    as test_semantic_dedup_invariants_and_reuse. Runtime AQE exchange
    reuse is same-or-better but NOT a stable pin (CLAUDE.md: 2
    ReusedExchange standalone, 0 mid-suite for the identical query), so
    every plan-reuse assertion must run under this guard."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.enabled",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(
                k, "false" if k == "spark.sql.adaptive.enabled" else "-1"
            )
        df = build()
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, name):
    fn, sql = QUERIES[name]
    sdf = fn(spark, SF_DIR).toPandas()
    ddf = _duck(sql)
    assert sorted(sdf.columns) == sorted(ddf.columns), (
        f"{name}: columns {sorted(sdf.columns)} vs {sorted(ddf.columns)}"
    )
    assert len(sdf) == len(ddf), f"{name}: rows {len(sdf)} vs {len(ddf)}"
    a, b = _canon(sdf), _canon(ddf)
    assert _values_equal(a, b), f"{name}: value mismatch\nspark:\n{a.head()}\nduck:\n{b.head()}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    fn, _ = QUERIES[name]
    df = fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_dedup_clusters_invariants(spark):
    """Connected-component clustering: cluster ids are member minima, and
    every candidate pair lands in the same cluster."""
    from swissgeol_ocr_spark.plans.queries import q_dedup_clusters, q_dedup_minhash_lsh

    clusters = {r.doc_id: r.cluster_id for r in q_dedup_clusters(spark, SF_DIR).collect()}
    pairs = q_dedup_minhash_lsh(spark, SF_DIR).collect()
    assert pairs, "fixture should contain near-dup candidates"
    for p in pairs:
        assert clusters[p.a_id] == clusters[p.b_id]
    # cluster id is the min member id
    from collections import defaultdict

    members = defaultdict(list)
    for doc, c in clusters.items():
        members[c].append(doc)
    for c, docs in members.items():
        assert c == min(docs)


def test_jaccard_hot_shingle_cap(spark, tmp_path):
    """One viral shingle shared by 60 docs must NOT create 60² candidate
    pairs: the document-frequency cap drops it before the pair join, while
    genuine near-dups (sharing many rare shingles) still surface."""
    from swissgeol_ocr_spark.plans.queries import q_dedup_ngram_jaccard

    rows = [(i, "s1", f"u{i} v{i} x y z") for i in range(60)]  # viral 'x y z'
    rows += [(100, "s1", "p q r s t"), (101, "s1", "p q r s t")]  # true dup
    spark.createDataFrame(rows, "doc_id long, source string, text string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    out = q_dedup_ngram_jaccard(spark, str(tmp_path)).collect()
    got = {(r.a_id, r.b_id) for r in out}
    assert (100, 101) in got
    # no pair among the viral docs — their only shared shingle was capped
    assert all(a >= 100 for a, b in got)


def test_simhash_band_pigeonhole():
    """Any two fingerprints within Hamming distance bands−1 must share at
    least one band key (the join-completeness guarantee behind
    dedup_simhash_pairs), at the 32-bit/4×8 and 56-bit/8×7 settings and at
    the registered 128-bit default from DedupConfig."""
    import random

    from swissgeol_ocr_spark.plans.config import DedupConfig

    cfg = DedupConfig()
    settings = [
        (32, 4, 8),
        (56, 8, 7),           # the round-3 default
        (cfg.simhash_bits, cfg.simhash_bands, cfg.simhash_band_bits),
    ]
    assert (cfg.simhash_bands, cfg.simhash_band_bits) == (8, 16)  # corpus-scale default
    rng = random.Random(7)
    for bits, bands, band_bits in settings:
        mask = (1 << band_bits) - 1
        for _ in range(2000):
            a = rng.getrandbits(bits)
            b = a
            for bit in rng.sample(range(bits), rng.randint(0, bands - 1)):
                b ^= 1 << bit
            bands_a = [(i, (a >> (band_bits * i)) & mask) for i in range(bands)]
            bands_b = [(i, (b >> (band_bits * i)) & mask) for i in range(bands)]
            assert set(bands_a) & set(bands_b), (bits, bands, a, b)


def test_simhash_banded_join_complete_wide(spark):
    """End-to-end completeness at the corpus-scale setting: run the banded
    join over synthetic 128-bit fingerprints stored as two BIGINT halves
    and compare against the exact all-pairs Hamming ≤ 7 ground truth. Near
    pairs are planted at every distance 0..7 including bits 63 and 127 —
    the sign bits of both halves, where a shift/sign bug would bite."""
    import random

    from pyspark.sql import functions as F

    from swissgeol_ocr_spark.functions.textops import (
        hamming_two_bigint,
        simhash_band_keys_from_halves,
    )
    from swissgeol_ocr_spark.plans.config import DedupConfig

    cfg = DedupConfig()
    assert cfg.simhash_bits == 128
    rng = random.Random(41)
    fps = [rng.getrandbits(cfg.simhash_bits) for _ in range(120)]
    for d in range(8):
        base = rng.getrandbits(cfg.simhash_bits)
        other = base
        # force the sign-bit positions into the planted flips
        for bit in ([63, 127][:d] + rng.sample(range(cfg.simhash_bits), max(0, d - 2)))[:d]:
            other ^= 1 << bit
        fps += [base, other]

    def signed(x):
        return x - (1 << 64) if x >= (1 << 63) else x

    rows = [
        (i, signed(f & ((1 << 64) - 1)), signed(f >> 64)) for i, f in enumerate(fps)
    ]
    df = spark.createDataFrame(rows, "vid long, lo long, hi long")
    banded = df.select(
        "vid", "lo", "hi",
        F.explode(
            simhash_band_keys_from_halves(
                F.col("lo"), F.col("hi"), cfg.simhash_bands, cfg.simhash_band_bits
            )
        ).alias("bk"),
    )
    got = {
        (r.a, r.b)
        for r in banded.alias("x")
        .join(banded.alias("y"), (F.col("x.bk") == F.col("y.bk")) & (F.col("x.vid") < F.col("y.vid")))
        .select(
            F.col("x.vid").alias("a"), F.col("y.vid").alias("b"),
            hamming_two_bigint(
                F.col("x.lo"), F.col("x.hi"), F.col("y.lo"), F.col("y.hi")
            ).alias("h"),
        )
        .filter(F.col("h") <= cfg.simhash_bands - 1)
        .distinct()
        .collect()
    }
    expected = {
        (i, j)
        for i in range(len(fps))
        for j in range(i + 1, len(fps))
        if bin(fps[i] ^ fps[j]).count("1") <= cfg.simhash_bands - 1
    }
    assert got == expected


def test_connected_components_star_adversarial(spark):
    """Large-star/small-star CC: on a 120-node chain (diameter no plain
    min-label propagation finishes in 20 rounds) the alternation converges
    and labels every node with the chain minimum; on random graphs it
    agrees with a pure-python union-find."""
    import random

    from pyspark.sql import functions as F

    from swissgeol_ocr_spark.functions.textops import connected_components_star

    # adversarial: one long chain
    n = 120
    verts = spark.createDataFrame([(f"v{str(i).zfill(3)}",) for i in range(n)], "id string")
    chain = spark.createDataFrame(
        [(f"v{str(i).zfill(3)}", f"v{str(i + 1).zfill(3)}") for i in range(n - 1)],
        "src string, dst string",
    )
    out = {r.id: r.component for r in connected_components_star(verts, chain).collect()}
    assert set(out.values()) == {"v000"}

    # random graphs vs union-find ground truth
    rng = random.Random(3)
    ids = [f"n{str(i).zfill(2)}" for i in range(40)]
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(35)]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    truth = {i: find(i) for i in ids}
    verts2 = spark.createDataFrame([(i,) for i in ids], "id string")
    edges2 = spark.createDataFrame(edges, "src string, dst string")
    got = {r.id: r.component for r in connected_components_star(verts2, edges2).collect()}
    assert got == truth


def test_connected_components_star_raises_on_nonconvergence(spark):
    """A star CC that cannot reach its fixpoint within max_iter rounds must
    FAIL loudly rather than return partial (silently wrong) labels — the
    round-3 review finding; its full convergence on chains is pinned by
    test_connected_components_star_adversarial."""
    from swissgeol_ocr_spark.functions.textops import connected_components_star

    n = 12
    verts = spark.createDataFrame([(f"v{i:02d}",) for i in range(n)], "id string")
    chain = spark.createDataFrame(
        [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(n - 1)], "src string, dst string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(verts, chain, max_iter=0)


def test_dedup_config_rejects_widths_the_two_half_layout_cannot_hold():
    """DedupConfig is the one statement of the supported SimHash widths: an
    even band count ≥ 2 with at most 64 bits per BIGINT half."""
    from swissgeol_ocr_spark.plans.config import DedupConfig

    for bands, band_bits in [(7, 8), (0, 16), (4, 33)]:
        with pytest.raises(ValueError):
            DedupConfig(bands, band_bits)
    assert DedupConfig(2, 64).simhash_bits == 128


def test_simhash_scale_knob_cross_setting_consistency(spark):
    """Exercise the DedupConfig scale lever end-to-end at two widths: (a)
    the corpus-scale 128-bit default (8×16, d ≤ 7 complete) rebanded as
    4×32 is d ≤ 3 complete over the SAME fingerprint, so its pair set must
    EQUAL the default's pairs filtered to hamming ≤ 3; (b) the same
    relation between the 8×7 and 4×14 settings over a 56-bit fingerprint.
    Every setting must also equal its generated DuckDB oracle."""
    from swissgeol_ocr_spark.plans.config import DedupConfig
    from swissgeol_ocr_spark.plans.queries import (
        q_dedup_simhash_pairs,
        sql_dedup_simhash_pairs,
    )

    cols = ["a_id", "b_id", "a_dups", "b_dups", "hamming"]

    def pairs(cfg):
        rows = q_dedup_simhash_pairs(spark, SF_DIR, config=cfg).collect()
        got = {tuple(r[c] for c in cols) for r in rows}
        oracle = _duck(sql_dedup_simhash_pairs(cfg))[cols]
        assert len(rows) == len(oracle), cfg
        assert got == set(oracle.itertuples(index=False, name=None)), cfg
        return got

    for wide_cfg, narrow_cfg in [
        (None, DedupConfig(simhash_bands=4, simhash_band_bits=32)),     # 128-bit
        (DedupConfig(8, 7), DedupConfig(simhash_bands=4, simhash_band_bits=14)),  # 56-bit
    ]:
        wide_d3 = {
            (a, b, h) for a, b, _, _, h in pairs(wide_cfg) if h <= 3
        }
        narrow_set = {(a, b, h) for a, b, _, _, h in pairs(narrow_cfg)}
        assert narrow_set == wide_d3, (wide_cfg, narrow_cfg)


# Golden-backed oracles are pinned to sf0.01 parquets; everything else must
# hold at ANY scale factor. A second-SF spot check on the arithmetic-heavy
# pairs proves the cross-engine parity isn't tuned to one dataset.
SF0001_SPOT = [
    "c5_confidence_filter", "dedup_minhash_lsh", "dedup_simhash_pairs",
    "dedup_ngram_jaccard", "dedup_embedding_cosine", "ivf_ann", "ivf_ann_trained",
    "lsh_ann", "media_features", "media_downscale", "quality_score",
    "event_windows", "p7_downscale_budget", "corpus_curation",
    "stratified_sample", "dedup_band_stats", "boilerplate_strip",
    "decontaminate", "pack_sequences", "repetition_ratio",
    "source_domain_filter", "topk_ngrams", "dedup_lines", "pii_scrub",
    "tfidf_topk", "bm25_rank", "temperature_mix", "lm_score", "dedup_substrings",
    "training_mix", "corpus_stats", "winnow_fingerprint",
    "semantic_dedup", "winnow_pairs",
    "sessionize", "asof_join", "percentiles", "funnel_stages",
    "cube_rollup", "pivot_events", "retention_cohorts", "star_join_q5",
    "chunk_documents", "json_extract_stats",
]


@pytest.mark.parametrize("name", SF0001_SPOT)
def test_query_matches_oracle_second_sf(spark, name):
    fn, sql = QUERIES[name]
    sf = "/root/testdata/sf0.001"
    sdf = fn(spark, sf).toPandas()
    ddf = _duck(sql, sf_dir=sf)
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert len(sdf) == len(ddf), f"{name}: rows {len(sdf)} vs {len(ddf)}"
    assert _values_equal(_canon(sdf), _canon(ddf)), f"{name}: sf0.001 mismatch"


def test_band_stats_adversarial_skew(spark):
    """The band-population metrics must make a skewed corpus VISIBLE: on an
    adversarial corpus where half the docs are byte-identical, every
    simhash band shows a hot bucket holding at least that clone block —
    the quantity that would go quadratic in the candidate join. On the
    all-identical corpus each band collapses to exactly one bucket."""
    from pyspark.sql import functions as F

    from swissgeol_ocr_spark.functions import textops
    from swissgeol_ocr_spark.plans.queries import _simhash_wide_packed

    def banded_of(rows):
        docs = spark.createDataFrame(rows, "doc_id long, text string").select(
            "doc_id", textops.md5_digests(F.split("text", " ")).alias("dg")
        )
        return _simhash_wide_packed(docs, 8, 16).select(
            F.explode("keys").alias("bk")
        )

    n = 64
    all_same = banded_of([(i, "the same text in every row") for i in range(n)])
    stats = {r.band: r for r in
             textops.band_population_stats(all_same, "simhash").collect()}
    assert set(stats) == set(range(8))
    for r in stats.values():
        assert (r.n_buckets, r.max_bucket, r.n_rows) == (1, n, n)

    half = [(i, "hot duplicated document body") for i in range(n // 2)]
    half += [(n // 2 + i, f"unique text number {i} with filler w{i} v{i*7}")
             for i in range(n // 2)]
    mixed = {r.band: r for r in
             textops.band_population_stats(banded_of(half), "simhash").collect()}
    for r in mixed.values():
        assert r.max_bucket >= n // 2      # the hot bucket is visible
        assert r.n_buckets > 1             # and it is not the whole corpus
        assert r.n_rows == n


def _write_documents(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_hot_duplicate_cluster_linear(spark, tmp_path):
    """The round-4 verdict's named scale-killer, pinned fixed: 1,000
    byte-identical copies of one document (web boilerplate) must cost O(1)
    banded rows — NOT 1,000 rows in one bucket minting ~500k in-bucket
    candidate pairs. The collapse keeps recall: the cluster still pairs
    with its genuine near-duplicate exactly once, carrying multiplicity."""
    from pyspark.sql import functions as F

    from swissgeol_ocr_spark.functions import textops
    from swissgeol_ocr_spark.plans.queries import (
        q_dedup_minhash_lsh,
        q_dedup_simhash_pairs,
    )

    body = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, body, "en", "s1") for i in range(1000)]           # k-wide clone block
    rows += [(2000, body.replace("dog", "cat"), "en", "s1")]      # its near-dup
    rows += [(3000 + i, f"unrelated text u{i} v{i*3} w{i*7} x{i*11} y{i*13}",
              "en", "s1") for i in range(3)]
    sf = _write_documents(spark, tmp_path, rows)

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    reps = textops.exact_collapse(docs.select("doc_id", "text"))
    banded = textops.minhash_band_relation(reps)
    # LINEAR: 4 band rows per DISTINCT text (5 distinct), not per member
    assert banded.count() == 4 * 5
    assert {r.n_dups for r in reps.collect()} == {1000, 1, 1, 1, 1}

    mh = q_dedup_minhash_lsh(spark, sf).collect()
    # zero clone-clone pairs (the k² product is gone) ...
    assert not any(r.a_id < 1000 and r.b_id < 1000 for r in mh)
    # ... but the cluster's ONE representative still finds its near-dup,
    # with the multiplicity on the pair
    near = [r for r in mh if (r.a_id, r.b_id) == (0, 2000)]
    assert len(near) == 1 and (near[0].a_dups, near[0].b_dups) == (1000, 1)

    sh = q_dedup_simhash_pairs(spark, sf).collect()
    assert not any(r.a_id < 1000 and r.b_id < 1000 for r in sh)
    for r in sh:
        assert r.a_dups == (1000 if r.a_id == 0 else 1)


def _minhash_colliding_docs(n):
    """n DISTINCT texts CONSTRUCTED to share their full MinHash signature
    (a deterministic near-identical mega-cluster): each doc is 9 common
    words + one unique tail word chosen (by direct md5 computation) so its
    only unique shingle never wins any of the 8 signature slices."""
    import hashlib

    common = "alpha beta gamma delta epsilon zeta eta theta iota".split()

    def slices(s):
        d = hashlib.md5(s.encode()).hexdigest()
        return [d[4 * j: 4 * j + 4] for j in range(8)]

    common_shingles = [" ".join(common[i: i + 3]) for i in range(len(common) - 2)]
    floor = [min(sl) for sl in zip(*(slices(s) for s in common_shingles))]
    tails = []
    i = 0
    while len(tails) < n:
        w = f"tail{i}"
        uniq = f"{common[-2]} {common[-1]} {w}"
        if all(s > f for s, f in zip(slices(uniq), floor)):
            tails.append(w)
        i += 1
    return [(j, " ".join(common + [w]), "en", "s1") for j, w in enumerate(tails)]


def test_band_bucket_cap_routes_hot_bucket(spark, tmp_path):
    """The per-bucket population cap: >cap DISTINCT texts agreeing on every
    band key (a near-identical mega-cluster — exact collapse can't merge
    them) are routed OUT of the pair join instead of going quadratic, and
    the drop is counted by band_population_stats.n_over_cap."""
    from pyspark.sql import functions as F

    from swissgeol_ocr_spark.functions import textops
    from swissgeol_ocr_spark.plans.queries import minhash_pair_relation

    sf = _write_documents(spark, tmp_path, _minhash_colliding_docs(10))
    docs = spark.read.parquet(f"{sf}/documents.parquet")

    banded = textops.minhash_band_relation(
        textops.exact_collapse(docs.select("doc_id", "text"))
    )
    assert banded.select("band_key").distinct().count() == 4  # all 10 collide

    # under the cap: the full C(10,2) pair set survives
    assert minhash_pair_relation(docs, cap=200).count() == 45
    # over the cap: every band bucket is routed out → zero candidates
    assert minhash_pair_relation(docs, cap=3).count() == 0
    # and the routing is never silent: n_over_cap counts each hot bucket
    stats = {r.band: r for r in textops.band_population_stats(
        banded.withColumnRenamed("band_key", "bk"), "minhash", cap=3
    ).collect()}
    assert set(stats) == {0, 1, 2, 3}
    for r in stats.values():
        assert (r.n_buckets, r.max_bucket, r.n_over_cap) == (1, 10, 1)


def test_dedup_band_guard_trips_on_skew(spark, tmp_path):
    """The pipeline guard over the band-stats instrument: a corpus whose
    representative buckets exceed the cap trips warnings AND durable
    metrics rows BEFORE any pair join runs; a healthy corpus at the
    default cap stays silent (empty warning list), with its metrics rows
    still recorded."""
    import shutil

    from swissgeol_ocr_spark.plans.config import DedupConfig
    from swissgeol_ocr_spark.plans.pipeline import dedup_band_guard

    sf = _write_documents(spark, tmp_path, _minhash_colliding_docs(10))
    # the band-stats relation also covers the embedding family
    shutil.copy("/root/testdata/sf0.001/embeddings.parquet",
                str(tmp_path / "embeddings.parquet"))
    metrics = str(tmp_path / "skew_metrics")

    warns = dedup_band_guard(
        spark, sf, "guard-1", metrics_path=metrics,
        config=DedupConfig(band_bucket_cap=3),
    )
    assert any("family=minhash" in w for w in warns)  # all 10 share all bands
    assert all("routed out" in w for w in warns)

    m = spark.read.parquet(metrics)
    rows = m.collect()
    assert {r.family for r in rows} == {"simhash", "minhash", "embedding"}
    assert all(r.run_id == "guard-1" for r in rows)
    mh = [r for r in rows if r.family == "minhash"]
    assert len(mh) == 4 and all(r.n_over_cap == 1 and r.max_bucket == 10 for r in mh)

    # healthy at the default cap: silent, but the metrics rows still land
    assert dedup_band_guard(spark, sf, "guard-2", metrics_path=metrics) == []
    assert spark.read.parquet(metrics).filter("run_id = 'guard-2'").count() == len(rows)


def test_exact_membership_reexpansion(spark, tmp_path):
    """After the collapse, byte-identical members must still be
    non-canonical in curation and land in their keeper's cluster — via the
    LINEAR fp→keeper relation, never a pair product."""
    from swissgeol_ocr_spark.plans.queries import (
        q_corpus_curation,
        q_dedup_clusters,
    )

    body = ("solid quality text with plenty of ordinary words to pass the "
            "curation floors and the token minimum for keeping documents")
    rows = [(0, body, "en", "s1"), (1, body, "en", "s1"), (2, body, "en", "s1"),
            (3, "some other unrelated document body entirely", "en", "s1")]
    sf = _write_documents(spark, tmp_path, rows)

    cur = {r.doc_id: r for r in q_corpus_curation(spark, sf).collect()}
    assert cur[0].is_canonical and cur[3].is_canonical
    assert not cur[1].is_canonical and not cur[2].is_canonical

    cl = {r.doc_id: r.cluster_id for r in q_dedup_clusters(spark, sf).collect()}
    assert cl[0] == cl[1] == cl[2] == 0
    assert cl[3] == 3


def test_boilerplate_strip_site_chrome_and_footer(spark, tmp_path):
    """Corpus-level boilerplate strip: the per-source chrome header is
    always removed, and an organic footer shared by half the source's docs
    crosses the relative threshold (df>=2 AND df*2>=n_src) while unique
    chunks survive. kept_fp must equal the md5 of the order-preserving
    chunk-stripped text."""
    import hashlib

    from swissgeol_ocr_spark.plans.queries import q_boilerplate_strip

    footer = "buy cheap widgets now"
    rows = [  # bodies are 8 words: header(7)+source(1) fills chunks 1-2, the
        (0, "alpha beta gamma delta epsilon zeta eta theta " + footer, "en", "s1"),
        (1, "one two three four five six seven eight " + footer, "en", "s1"),
        (2, "red orange yellow green blue indigo violet crimson", "en", "s1"),
        (3, "cat dog bird fish horse mouse goat sheep", "en", "s1"),
    ]  # body chunks 3-4, and the footer its own aligned chunk in docs 0-1
    sf = _write_documents(spark, tmp_path, rows)
    out = {r.doc_id: r for r in q_boilerplate_strip(spark, sf).collect()}

    def kept_md5(body):
        return hashlib.md5(body.encode()).hexdigest()

    assert out[0].n_chunks == 5 and out[0].n_boiler == 3  # 2 chrome + footer
    assert out[0].kept_fp == kept_md5("alpha beta gamma delta epsilon zeta eta theta")
    assert out[1].n_boiler == 3
    assert out[2].n_chunks == 4 and out[2].n_boiler == 2  # chrome only
    assert out[2].kept_fp == kept_md5("red orange yellow green blue indigo violet crimson")
    assert abs(out[0].boiler_ratio - 0.6) < 1e-9
    # at the driver corpus, every doc sheds at least the injected chrome
    sample = q_boilerplate_strip(spark, "/root/testdata/sf0.01").filter(
        "n_boiler < 2"
    )
    assert sample.count() == 0


def test_decontaminate_flags_planted_overlap(spark, tmp_path):
    """A training doc sharing one 4-gram with a benchmark doc is flagged
    with the exact distinct-hit count; disjoint docs stay clean; benchmark
    docs never appear in the output."""
    from swissgeol_ocr_spark.plans.queries import q_decontaminate

    secret = "xylophone quark nebula fjord"
    rows = [
        (0, "benchmark question about the " + secret + " answer", "en", "s1"),
        (10, "another benchmark row entirely different words", "en", "s1"),
        (11, "training document leaking " + secret + " verbatim", "en", "s1"),
        (12, "clean training document with fresh vocabulary only", "en", "s1"),
        (13, "tiny doc", "en", "s1"),  # shorter than the gram width
    ]
    sf = _write_documents(spark, tmp_path, rows)
    out = {r.doc_id: r for r in q_decontaminate(spark, sf).collect()}
    assert set(out) == {11, 12, 13}  # benchmark ids 0,10 excluded
    assert out[11].contaminated and out[11].n_gram_hits == 1
    assert not out[12].contaminated and out[12].n_gram_hits == 0
    assert not out[13].contaminated


def test_dedup_lines_first_occurrence_rule(spark, tmp_path):
    """C4-style duplicate-line removal on a planted corpus: the global
    first occurrence (smallest (doc_id, line_idx)) of every distinct
    8-word line survives, later copies vanish — across documents AND
    within one document — and a fully-duplicated document keeps zero
    lines (kept_md5 = md5(''))."""
    import hashlib

    from swissgeol_ocr_spark.plans.queries import q_dedup_lines

    la = "alpha beta gamma delta epsilon zeta eta theta"
    lb = "one two three four five six seven eight"
    lc = "red orange yellow green blue indigo violet crimson"
    rows = [
        (0, la + " " + lb, "en", "s1"),          # both lines first → kept
        (1, lb + " " + la, "en", "s1"),          # both dups of doc 0 → empty
        (2, la + " " + lc, "en", "s1"),          # one dup, one fresh
        (3, lc + " " + lc, "en", "s1"),          # internal dup of a dup
    ]
    sf = _write_documents(spark, tmp_path, rows)
    out = {r.doc_id: r for r in q_dedup_lines(spark, sf).collect()}

    def m(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert out[0].n_lines == 2 and out[0].n_kept == 2
    assert out[0].kept_md5 == m(la + " " + lb)
    assert out[1].n_kept == 0 and out[1].kept_md5 == m("")
    assert out[2].n_kept == 1 and out[2].kept_md5 == m(lc)
    assert out[3].n_kept == 0 and out[3].kept_md5 == m("")


def test_pii_scrub_plants_and_zero_shuffle(spark, tmp_path):
    """PII scrub on crafted rows (ids chosen OFF every injection stride so
    only the literal text matters): counts match re.findall and the
    scrubbed hash matches a pure-python re.sub replay; and the plan is
    map-only — zero Exchange nodes (the operator's 100 TB claim)."""
    import hashlib
    import re

    from swissgeol_ocr_spark.plans.queries import (
        PII_EMAIL_RE,
        PII_IP_RE,
        PII_PHONE_RE,
        q_pii_scrub,
    )

    rows = [  # 0 and 35 hit none of %5==1 / %7==2 / %11==3
        (0, "write to jane.doe@corp.example.com or +41-22-5551-99 today", "en", "s1"),
        (35, "server 192.168.7.250 and 10.1.2.3 pinged admin@a.ch twice", "en", "s1"),
    ]
    sf = _write_documents(spark, tmp_path, rows)
    out = {r.doc_id: r for r in q_pii_scrub(spark, sf).collect()}
    for doc_id, text, _, _ in rows:
        scrub = re.sub(PII_EMAIL_RE, "<EMAIL>", text)
        scrub = re.sub(PII_PHONE_RE, "<PHONE>", scrub)
        scrub = re.sub(PII_IP_RE, "<IP>", scrub)
        r = out[doc_id]
        assert r.n_emails == len(re.findall(PII_EMAIL_RE, text))
        assert r.n_phones == len(re.findall(PII_PHONE_RE, text))
        assert r.n_ips == len(re.findall(PII_IP_RE, text))
        assert r.scrubbed_md5 == hashlib.md5(scrub.encode()).hexdigest()
    assert out[0].n_emails == 1 and out[0].n_phones == 1
    assert out[35].n_ips == 2 and out[35].n_emails == 1
    plan = q_pii_scrub(spark, "/root/testdata/sf0.01")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_tfidf_topk_ranks_rare_terms(spark, tmp_path):
    """tf-idf on a planted 3-doc corpus: scores match a pure-python
    replay of the smoothed formula, a high-tf rare term outranks a
    corpus-wide term, ranks are contiguous from 1 with the
    (score desc, word asc) tie-break — and the EXECUTED plan reuses the
    word-explosion exchange (one ReusedExchange: the tf subtree is
    computed once for both the tf and df consumers)."""
    import math

    from swissgeol_ocr_spark.plans.queries import q_tfidf_topk

    rows = [
        (0, "apple apple apple banana", "en", "s1"),
        (1, "apple cherry cherry date date", "en", "s1"),
        (2, "apple banana fig fig fig fig", "en", "s1"),
    ]
    sf = _write_documents(spark, tmp_path, rows)
    res = q_tfidf_topk(spark, sf)
    out = res.collect()
    plan = _static_reuse_plan(spark, lambda: q_tfidf_topk(spark, sf))
    assert "ReusedExchange" in plan  # the count-pruning trap stays fixed
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc in by_doc.values():
        doc.sort(key=lambda r: r.rank)
        assert [r.rank for r in doc] == list(range(1, len(doc) + 1))

    def score(tf, df, n=3):
        return round(tf * (math.log((n + 1.0) / (df + 1.0)) + 1.0), 6)

    d0 = by_doc[0]
    assert (d0[0].word, d0[0].tf, d0[0].df, d0[0].cf) == ("apple", 3, 3, 5)
    assert d0[0].score == score(3, 3) == 3.0
    assert (d0[1].word, d0[1].score) == ("banana", score(1, 2))
    d2 = by_doc[2]  # rare 'fig' (df=1, tf=4) dominates ubiquitous 'apple'
    assert [r.word for r in d2] == ["fig", "banana", "apple"]
    assert d2[0].score == score(4, 1) and d2[0].cf == 4


def test_bm25_rank_matches_python_replay(spark, tmp_path):
    """BM25 on a randomized planted corpus: every output column matches a
    pure-python replay of the Okapi formula (same fixed term-sum order,
    same exact-integer avgdl), a short doc with the same tf outranks a
    long one (length normalization), and the plan's global top-K is a
    TakeOrderedAndProject — never a full sort."""
    import math
    import random

    from swissgeol_ocr_spark.plans.queries import (
        BM25_B,
        BM25_K,
        BM25_K1,
        BM25_SCORE_EPS,
        BM25_TERMS,
        q_bm25_rank,
    )

    rng = random.Random(42)
    filler = ["alpha", "beta", "gamma", "delta"]
    rows = []
    texts = {}
    for doc_id in range(40):
        n = rng.randint(5, 60)
        words = [
            rng.choice(filler + list(BM25_TERMS) * 2) for _ in range(n)
        ]
        texts[doc_id] = words
        rows.append((doc_id, " ".join(words), "en", "s1"))
    # planted pair: identical query-term tfs, very different lengths —
    # the short doc must outrank the long one
    texts[100] = ["hash", "merge", "alpha"]
    texts[101] = ["hash", "merge"] + ["alpha"] * 57
    rows.append((100, " ".join(texts[100]), "en", "s1"))
    rows.append((101, " ".join(texts[101]), "en", "s1"))
    sf = _write_documents(spark, tmp_path, rows)

    out = q_bm25_rank(spark, sf)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    got = {r.doc_id: r for r in out.collect()}

    # pure-python replay, same operand order as both engine faces
    n_docs = len(texts)
    dl = {d: len(w) for d, w in texts.items()}
    avgdl = float(sum(dl.values())) / n_docs
    tf = {
        d: {t: w.count(t) for t in BM25_TERMS} for d, w in texts.items()
    }
    df = {t: sum(1 for d in texts if tf[d][t] > 0) for t in BM25_TERMS}
    scores = {}
    for d in texts:
        norm = BM25_K1 * (1.0 - BM25_B + BM25_B * dl[d] / avgdl)
        s = 0.0
        for t in BM25_TERMS:
            idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (tf[d][t] * (BM25_K1 + 1.0)) / (tf[d][t] + norm)
        # integer micro-units, exactly as both engine faces emit them
        scores[d] = math.floor(s * 1e6 + BM25_SCORE_EPS)
    top = sorted(texts, key=lambda d: (-scores[d], d))[:BM25_K]
    assert set(got) == set(top)
    for rank, d in enumerate(top, start=1):
        r = got[d]
        assert r.rank == rank, (d, r.rank, rank)
        assert r.dl == dl[d]
        for t in BM25_TERMS:
            assert getattr(r, f"tf_{t}") == tf[d][t]
        # exact integer equality — the micro-unit floor (+eps) is the
        # whole point: no HALF_UP/HALF_EVEN slop band needed anymore
        assert r.score_micro == scores[d], (d, r.score_micro, scores[d])
    # length normalization: same tfs, 3-word doc beats the 59-word doc
    assert scores[100] > scores[101]
    assert got[100].rank < got[101].rank


def test_temperature_mix_upweights_small_sources(spark, tmp_path):
    """Temperature mixing on a planted skewed corpus (12-doc vs 2-doc
    source): keep_bp matches a pure-python replay of
    floor(min(1, (n_s^a/Σ)·(N·frac)/n_s)·10000), the small source gets a
    strictly higher keep rate, and the kept set equals the md5-replay."""
    import hashlib
    import math

    from swissgeol_ocr_spark.plans.queries import (
        MIX_ALPHA,
        MIX_BP_EPS,
        MIX_FRAC,
        q_temperature_mix,
    )

    rows = [(i, f"word{i} filler text", "en", "big") for i in range(12)]
    rows += [(100, "rare source one", "en", "small"),
             (101, "rare source two", "en", "small")]
    sf = _write_documents(spark, tmp_path, rows)
    out = q_temperature_mix(spark, sf).collect()

    n = {"big": 12, "small": 2}
    z = sum(math.pow(v, MIX_ALPHA) for v in n.values())
    total = sum(n.values())
    # + MIX_BP_EPS: the replay is a THIRD float face of the same floor —
    # without the epsilon, python's doubles landing one ulp below an
    # exactly-integer boundary would fail the test against a correct build
    bp = {
        s: math.floor(
            min(1.0, (math.pow(v, MIX_ALPHA) / z) * (total * MIX_FRAC) / v)
            * 10000
            + MIX_BP_EPS
        )
        for s, v in n.items()
    }
    assert bp["small"] > bp["big"]

    def u(doc_id):
        return int(hashlib.md5(f"{doc_id}:mix".encode()).hexdigest()[:8], 16) % 10000

    expect = {
        (doc_id, src)
        for doc_id, _, _, src in rows
        if u(doc_id) < bp[src]
    }
    assert {(r.doc_id, r.source) for r in out} == expect
    for r in out:
        assert r.keep_bp == bp[r.source] and r.u == u(r.doc_id)


def test_pack_sequences_matches_greedy_reference(spark):
    """Packing invariants at sf0.01: offsets live in [0, budget); within
    each block the assignment equals a sequential greedy pass over doc_id
    order (the semantics a single-threaded packer would produce)."""
    from collections import defaultdict

    from swissgeol_ocr_spark.plans.queries import (
        PACK_SEQ_TOKENS,
        q_pack_sequences,
    )

    rows = q_pack_sequences(spark, "/root/testdata/sf0.01").collect()
    assert rows and all(0 <= r.tok_offset < PACK_SEQ_TOKENS for r in rows)
    by_block = defaultdict(list)
    for r in rows:
        by_block[r.block].append(r)
    for block, docs in by_block.items():
        start = 0
        for r in sorted(docs, key=lambda r: r.doc_id):
            seq = start // PACK_SEQ_TOKENS
            assert r.seq_id == block * 1_000_000 + seq, r
            assert r.tok_offset == start - seq * PACK_SEQ_TOKENS, r
            start += r.ws_tokens


def test_repetition_ratio_signals(spark, tmp_path):
    """Gopher-style repetition signals: a degenerate doc ('spam spam ...')
    maxes out dup_gram_ratio/top_gram_share and trips the flag; an
    all-distinct doc scores zero; a doc shorter than the gram width emits
    zero grams and zero ratios (not NULLs)."""
    from swissgeol_ocr_spark.plans.queries import q_repetition_ratio

    rows = [
        (0, "spam spam spam spam spam spam", "en", "s1"),   # 5 grams, 1 distinct
        (1, "one two three four five six", "en", "s1"),     # all distinct
        (2, "word", "en", "s1"),                            # below gram width
        (3, "ab cd ab cd ab cd", "en", "s1"),               # 'ab cd' 3/5
    ]
    sf = _write_documents(spark, tmp_path, rows)
    out = {r.doc_id: r for r in q_repetition_ratio(spark, sf).collect()}
    assert out[0].n_grams == 5 and out[0].n_distinct == 1
    assert out[0].dup_gram_ratio == 0.8 and out[0].top_gram_share == 1.0
    assert out[0].repetitive
    assert out[1].dup_gram_ratio == 0.0 and not out[1].repetitive
    assert out[2].n_grams == 0 and out[2].top_gram_share == 0.0
    assert not out[2].repetitive
    assert out[3].n_grams == 5
    assert out[3].top_gram_share == 0.6 and out[3].repetitive


def test_source_domain_filter_decision(spark, tmp_path):
    """Domain-level drop decision, pinned at the integer-arithmetic
    boundary: a source with 2/10 duplicate docs (20% > 10%) drops, a
    source with exactly 1/10 (10%, NOT > 10%) keeps, and a clean-dup
    source drops on the low-quality axis alone (1/5 = 20% > 18%)."""
    from swissgeol_ocr_spark.plans.queries import q_source_domain_filter

    def doc(i, extra):
        # ≥20 tokens, several stopwords, zero punctuation → quality ≥ 0.55
        return (
            f"the quick u{i}a and the u{i}b of a u{i}c in the u{i}d "
            f"is to u{i}e and of the u{i}f {extra}"
        )

    rows = []
    # srcA: docs 0..9, 8 and 9 byte-identical to 0 → n_dup=2 (keeper is 0)
    for i in range(10):
        t = doc(0, "zz") if i >= 8 else doc(i, f"a{i}")
        rows.append((i, t, "en", "srcA"))
    # srcB: docs 10..19, 19 identical to 10 → n_dup=1 (exactly 10%)
    for i in range(10):
        t = doc(10, "yy") if i == 9 else doc(10 + i, f"b{i}")
        rows.append((10 + i, t, "en", "srcB"))
    # srcC: 5 distinct docs, one pure-punctuation junk doc → n_lowq=1
    for i in range(5):
        t = "!!! ??? ;;; ... :::" if i == 4 else doc(20 + i, f"c{i}")
        rows.append((20 + i, t, "en", "srcC"))
    sf = _write_documents(spark, tmp_path, rows)
    out = {r.source: r for r in q_source_domain_filter(spark, sf).collect()}
    assert out["srcA"].n_dup == 2 and out["srcA"].drop_domain
    assert out["srcB"].n_dup == 1 and not out["srcB"].drop_domain
    assert out["srcC"].n_dup == 0 and out["srcC"].n_lowq == 1
    assert out["srcC"].drop_domain
    assert out["srcA"].dup_frac == 0.2 and out["srcB"].dup_frac == 0.1


def test_topk_ngrams_exact_vs_single_window(spark, tmp_path):
    """The salted two-phase top-K must equal the naive single-window
    top-K (computed here in plain python over the same gram counts),
    including deterministic tie-breaks at the K boundary."""
    from collections import Counter

    from swissgeol_ocr_spark.plans.queries import (
        TOPK_K,
        TOPK_NGRAM,
        q_topk_ngrams,
    )

    # 14 distinct grams per lang with a tie plateau spanning the K=10 cut
    rows, did = [], 0
    for lang in ("en", "de"):
        for rep, word in [(5, "aa"), (4, "bb")] + [(2, f"w{j}") for j in range(12)]:
            # one doc per gram: "<word> x y" repeated rep times, non-overlapping
            text = " ".join(f"{lang}{word} x{did} y{did}" for _ in range(rep))
            rows.append((did, text, lang, "s1"))
            did += 1
    sf = _write_documents(spark, tmp_path, rows)
    got = [
        (r.lang, r.gram, r.c, r.rank)
        for r in q_topk_ngrams(spark, sf).collect()
    ]

    # naive reference: count grams, rank per lang by (c desc, gram asc)
    counts = Counter()
    for _, text, lang, _src in rows:
        w = text.split(" ")
        for i in range(len(w) - (TOPK_NGRAM - 1)):
            counts[(lang, " ".join(w[i : i + TOPK_NGRAM]))] += 1
    want = []
    for lang in ("en", "de"):
        per = sorted(
            ((c, g) for (l, g), c in counts.items() if l == lang),
            key=lambda t: (-t[0], t[1]),
        )
        want += [(lang, g, c, r + 1) for r, (c, g) in enumerate(per[:TOPK_K])]
    assert sorted(got) == sorted(want)
    assert len(got) == 2 * TOPK_K


def test_dedup_lines_differential_random_corpora(spark, tmp_path):
    """Seeded randomized differential test for dedup_lines: three
    adversarial corpora (tiny vocabulary → heavy cross-doc line collisions,
    ragged word counts → partial trailing lines, and a clone block) are
    replayed through an independent pure-python first-occurrence twin and
    compared row-for-row (n_lines, n_kept, kept_md5). One Spark run covers
    all seeds; the twin shares no code with the query."""
    import hashlib
    import random

    from swissgeol_ocr_spark.plans.queries import DEDUP_LINE_WORDS, q_dedup_lines

    n = DEDUP_LINE_WORDS
    vocab = [f"w{i}" for i in range(6)]  # 6^8 grams but lines repeat via reuse
    rows = []
    doc_id = 0
    for seed in (11, 23, 47):
        rnd = random.Random(seed)
        pool = []  # previously-emitted lines, re-planted to force dups
        for _ in range(30):
            if pool and rnd.random() < 0.5:
                k = rnd.randrange(1, 4)
                words = [w for _ in range(k) for w in rnd.choice(pool)]
                tail = rnd.randrange(0, n)  # ragged trailing partial line
                words += [rnd.choice(vocab) for _ in range(tail)]
            else:
                words = [rnd.choice(vocab) for _ in range(rnd.randrange(0, 3 * n))]
            for i in range(0, len(words), n):
                pool.append(tuple(words[i : i + n]))
            rows.append((doc_id, " ".join(words), "en", "s1"))
            doc_id += 1
    rows += [(doc_id + j, rows[0][1], "en", "s1") for j in range(5)]  # clones

    # pure-python twin: global first occurrence by (doc_id, line_idx)
    first = {}
    for d, text, _l, _s in sorted(rows):
        w = text.split(" ")
        for i in range(0, max(len(w), 1), n):
            line = " ".join(w[i : i + n])
            first.setdefault(line, (d, i // n))
    want = {}
    for d, text, _l, _s in rows:
        w = text.split(" ")
        kept = []
        n_lines = 0
        for i in range(0, max(len(w), 1), n):
            line = " ".join(w[i : i + n])
            n_lines += 1
            if first[line] == (d, i // n):
                kept.append(line)
        want[d] = (
            n_lines,
            len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )

    sf = _write_documents(spark, tmp_path, rows)
    got = {
        r.doc_id: (r.n_lines, r.n_kept, r.kept_md5)
        for r in q_dedup_lines(spark, sf).collect()
    }
    assert got == want
    # sanity: the corpora actually exercised both paths
    assert any(v[1] < v[0] for v in want.values())  # dups removed somewhere
    assert any(v[1] == v[0] and v[0] > 1 for v in want.values())  # full keeps


def test_lm_score_unigram_replay(spark, tmp_path):
    """Unigram-LM scoring on a planted corpus: mean log-prob and the
    bits-per-token bucket match a pure-python replay of the self-trained
    unigram model; a common-word document scores strictly higher (less
    negative) than a rare-word one; and the EXECUTED plan reuses the
    word-explosion exchange (the tf subtree feeds both the vocabulary
    rollup and the scoring join exactly once)."""
    import math
    from collections import Counter

    from swissgeol_ocr_spark.plans.queries import q_lm_score

    rows = [
        (0, "the the the cat sat on the mat", "en", "s1"),
        (1, "the cat sat on a warm red mat", "en", "s1"),
        (2, "zyx qwv plk mnb vcx asd fgh jkl", "en", "s1"),  # all-rare
    ]
    sf = _write_documents(spark, tmp_path, rows)
    res = q_lm_score(spark, sf)
    out = {r.doc_id: r for r in res.collect()}
    plan = _static_reuse_plan(spark, lambda: q_lm_score(spark, sf))
    assert "ReusedExchange" in plan  # tf computed once for both consumers

    cf = Counter(w for _, t, _l, _s in rows for w in t.split(" "))
    total = sum(cf.values())
    for d, text, _l, _s in rows:
        toks = text.split(" ")
        mean_lp = sum(math.log(cf[w] / total) for w in toks) / len(toks)
        assert out[d].n_tokens == len(toks)
        assert out[d].mean_lp == round(mean_lp, 6)
        assert out[d].bits_bucket == math.floor(-round(mean_lp, 6) / math.log(2.0))
    # frequent vocabulary → higher (less negative) mean log-prob
    assert out[0].mean_lp > out[2].mean_lp and out[1].mean_lp > out[2].mean_lp


def test_dedup_substrings_alignment_insensitive(spark, tmp_path):
    """Sliding-window substring dedup on planted docs: a passage repeated
    at a DIFFERENT word offset is caught (the fixed-grid dedup_lines
    misses it by construction), the global first occurrence stays
    unmarked, overlapping marks merge into islands, a verbatim clone is
    100% covered, and a short doc (< window width) has zero grams. Every
    row is cross-checked against a pure-python replay of the
    mark-and-merge semantics."""
    import random

    from swissgeol_ocr_spark.plans.queries import (
        SUBSTR_GRAM_WORDS,
        q_dedup_substrings,
    )

    n = SUBSTR_GRAM_WORDS
    rnd = random.Random(7)
    passage = [f"p{i}" for i in range(n + 5)]  # 15 words → 6 grams
    filler = lambda k: [f"f{rnd.randrange(10**6)}" for _ in range(k)]
    d0 = filler(4) + passage + filler(3)        # first occurrence (offset 4)
    d1 = filler(9) + passage + filler(6)        # same passage, offset 9
    d2 = list(d0)                               # verbatim clone
    d3 = filler(n - 1)                          # too short: zero grams
    d4 = filler(20)                             # unique: zero marked
    rows = [
        (0, " ".join(d0), "en", "s1"),
        (1, " ".join(d1), "en", "s1"),
        (2, " ".join(d2), "en", "s1"),
        (3, " ".join(d3), "en", "s1"),
        (4, " ".join(d4), "en", "s1"),
    ]

    # pure-python twin: global-first marking + interval union
    from collections import defaultdict

    occs = defaultdict(list)
    toks = {d: t.split(" ") for d, t, _l, _s in rows}
    for d in sorted(toks):
        w = toks[d]
        for i in range(len(w) - n + 1):
            occs[" ".join(w[i : i + n])].append((d, i))
    want = {}
    for d, w in toks.items():
        marks = sorted(
            i
            for g, lst in occs.items()
            for (dd, i) in lst
            if dd == d and len(lst) >= 2 and (dd, i) != min(lst)
        )
        covered, end, islands = 0, -1, 0
        for i in marks:
            if i > end:  # strict: start == prev_end is contiguous coverage
                islands += 1
            covered += i + n - max(i, end if end > i else i)
            end = max(end, i + n)
        want[d] = (
            len(w),
            covered,
            covered * 1000000 // len(w),
            islands,
        )

    sf = _write_documents(spark, tmp_path, rows)
    got = {
        r.doc_id: (r.n_tokens, r.n_dup_tokens, r.dup_frac_ppm, r.n_islands)
        for r in q_dedup_substrings(spark, sf).collect()
    }
    assert got == want
    # the semantics the test exists for:
    assert want[1][1] == n + 5          # shifted passage fully marked in d1
    assert want[0][1] == 0              # global first occurrence unmarked
    assert want[2][1] == want[2][0]     # clone 100% covered, one island
    assert want[2][3] == 1
    assert want[3] == (n - 1, 0, 0, 0)  # short doc: no grams, no marks
    assert want[4][1] == 0


def test_training_mix_composition_replay(spark):
    """The end-to-end training assembly equals an independent pure-python
    replay of its three stages chained on the real sf0.01 corpus:
    curation keep-set (taken from the separately-oracled corpus_curation
    output) → temperature mix recomputed over the SURVIVORS (not the raw
    corpus — the post-curation shares differ and that difference is the
    point) → block-local greedy packing. Also pins the seams: every output
    doc is a curation keep, and at least one source's survivor keep_bp
    differs from the whole-corpus mix (proof the shares were recomputed)."""
    import hashlib
    import math
    from collections import Counter, defaultdict

    from swissgeol_ocr_spark.plans.queries import (
        MIX_ALPHA,
        MIX_BP_EPS,
        MIX_FRAC,
        PACK_BLOCK_DOCS,
        PACK_SEQ_TOKENS,
        q_corpus_curation,
        q_temperature_mix,
        q_training_mix,
    )

    cur = {r.doc_id: r for r in q_corpus_curation(spark, SF_DIR).collect()}
    src = {
        r.doc_id: r.source
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    }
    survivors = sorted(d for d, r in cur.items() if r.keep)

    ns = Counter(src[d] for d in survivors)
    z = sum(c**MIX_ALPHA for c in ns.values())
    n = sum(ns.values())
    keep_bp = {
        s: math.floor(
            min(1.0, (c**MIX_ALPHA / z) * (n * MIX_FRAC) / c) * 10000
            + MIX_BP_EPS
        )
        for s, c in ns.items()
    }

    def u(d):
        return int(hashlib.md5(f"{d}:mix".encode()).hexdigest()[:8], 16) % 10000

    mixed = [d for d in survivors if u(d) < keep_bp[src[d]]]

    blocks = defaultdict(list)
    for d in mixed:
        blocks[d // PACK_BLOCK_DOCS].append(d)
    want = {}
    for b, docs in blocks.items():
        start = 0
        for d in sorted(docs):
            t = cur[d].ws_tokens
            seq = start // PACK_SEQ_TOKENS
            want[d] = (src[d], t, b, b * 1_000_000 + seq,
                       start - seq * PACK_SEQ_TOKENS)
            start += t

    got = {
        r.doc_id: (r.source, r.ws_tokens, r.block, r.seq_id, r.tok_offset)
        for r in q_training_mix(spark, SF_DIR).collect()
    }
    assert got == want
    assert set(got) <= set(survivors)
    # the recomputed shares actually differ from the whole-corpus mix
    corpus_bp = {
        r.source: r.keep_bp for r in q_temperature_mix(spark, SF_DIR).collect()
    }
    assert any(corpus_bp.get(s) != bp for s, bp in keep_bp.items())


def test_corpus_stats_bit_length_buckets(spark, tmp_path):
    """Length-histogram buckets are integer bit lengths — exact at the
    power-of-two boundaries where a float floor(log2()) can straddle —
    and counts/token mass match a pure-python replay."""
    from collections import defaultdict

    from swissgeol_ocr_spark.plans.queries import q_corpus_stats

    rows = [
        (0, " ".join(["a"] * 1024), "en", "s1"),   # exactly 2^10 → bucket 11
        (1, " ".join(["a"] * 1023), "en", "s1"),   # bucket 10
        (2, " ".join(["a"] * 1025), "en", "s1"),   # bucket 11
        (3, "a", "en", "s2"),                      # 1 token → bucket 1
        (4, "a b", "en", "s2"),                    # 2 tokens → bucket 2
    ]
    sf = _write_documents(spark, tmp_path, rows)
    got = {
        (r.source, r.len_bucket): (r.n_docs, r.sum_tokens)
        for r in q_corpus_stats(spark, sf).collect()
    }
    want = defaultdict(lambda: [0, 0])
    for _d, text, _l, s in rows:
        t = len(text.split(" "))
        b = t.bit_length()
        want[(s, b)][0] += 1
        want[(s, b)][1] += t
    assert got == {k: tuple(v) for k, v in want.items()}
    assert ("s1", 11) in got and got[("s1", 11)] == (2, 2049)
    assert got[("s1", 10)] == (1, 1023)


def test_winnow_fingerprint_matches_paper_algorithm(spark, tmp_path):
    """The distributed window-explosion formulation equals a direct
    pure-python implementation of robust winnowing (per-window rightmost
    minimum) on seeded corpora with forced hash ties (tiny vocabulary →
    repeated grams → equal hashes inside one window), and the guarantee
    holds: two docs sharing a long passage share at least one selected
    fingerprint; density stays near 2/(w+1)."""
    import hashlib
    import random

    from swissgeol_ocr_spark.plans.queries import (
        WINNOW_K,
        WINNOW_W,
        q_winnow_fingerprint,
    )

    k, w = WINNOW_K, WINNOW_W
    rnd = random.Random(13)
    vocab = [f"v{j}" for j in range(5)]  # tiny vocab → in-window ties
    passage = [f"p{j}" for j in range(w + 2 * k)]  # guarantee-length share
    rows = []
    for d in range(40):
        words = [rnd.choice(vocab) for _ in range(rnd.randrange(0, 40))]
        if d in (7, 23):  # two docs share the passage at different offsets
            at = rnd.randrange(0, max(1, len(words)))
            words = words[:at] + passage + words[at:]
        rows.append((d, " ".join(words), "en", "s1"))

    def hgram(ws):
        return int(hashlib.md5(" ".join(ws).encode()).hexdigest()[:8], 16)

    def winnow(words):
        n = len(words) - (k - 1)
        if n < w:
            return n if n > 0 else 0, []
        hs = [hgram(words[i : i + k]) for i in range(n)]
        selected = set()
        for e in range(w - 1, n):
            win = list(range(e - w + 1, e + 1))
            m = min(hs[i] for i in win)
            p = max(i for i in win if hs[i] == m)  # rightmost min
            selected.add((p, hs[p]))
        return n, sorted(selected)

    want = {}
    sigs = {}
    for d, text, _l, _s in rows:
        words = text.split(" ")
        n, sel = winnow(words)
        sig = hashlib.md5(",".join(str(h) for _i, h in sel).encode()).hexdigest()
        want[d] = (n, len(sel), sig)
        sigs[d] = {h for _i, h in sel}

    sf = _write_documents(spark, tmp_path, rows)
    got = {
        r.doc_id: (r.n_grams, r.n_selected, r.sig_md5)
        for r in q_winnow_fingerprint(spark, sf).collect()
    }
    assert got == want
    # SIGMOD-03 guarantee: a shared run of >= w+k-1 words shares a print
    assert sigs[7] & sigs[23]
    # density: ~2/(w+1) of grams selected on the long docs
    long_docs = [d for d in want if want[d][0] >= 20]
    assert long_docs
    for d in long_docs:
        frac = want[d][1] / want[d][0]
        assert 0.1 < frac < 0.8


def test_json_extract_malformed_props(spark, tmp_path):
    """Malformed / missing / wrong-type JSON must degrade to NULL k (the
    n_with_k < n_events accounting), never raise — the Spark face's
    get_json_object contract a 100 TB crawl depends on."""
    from swissgeol_ocr_spark.plans.queries import q_json_extract_stats

    import duckdb

    from swissgeol_ocr_spark.plans.queries import SQL_JSON_STATS

    rows = [
        (1, None, 1, "view", 1.0, '{"k": 5}'),
        (2, None, 1, "view", 1.0, "{not json"),
        (3, None, 1, "view", 1.0, None),
        (4, None, 1, "view", 1.0, '{"other": 1}'),
        (5, None, 1, "view", 1.0, '{"k": "str"}'),  # non-integer k
        (6, None, 1, "view", 1.0, '{"k": 7}'),
        (7, None, 1, "view", 1.0, '{"k": 5.7}'),  # float k: the engines'
        (8, None, 1, "view", 1.0, '{"k": 5.0}'),  # lenient casts disagree
        # trailing newline: Java regex $ matches before it, RE2 $ does not
        # — both faces must REJECT it (\A/\z anchors), or Spark counts 9
        # where DuckDB counts NULL
        (9, None, 1, "view", 1.0, '{"k": "9\\n"}'),
    ]
    d = str(tmp_path / "ev")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    ).write.parquet(f"{d}/events.parquet")
    (r,) = q_json_extract_stats(spark, d).collect()
    assert r.n_events == 9
    assert r.n_with_k == 2  # only the two well-formed INTEGER ks
    assert (r.sum_k, r.min_k, r.max_k) == (12, 5, 7)

    # the DuckDB face must survive the SAME malformed corpus and agree —
    # json_extract_string throws on invalid JSON unless guarded, and
    # TRY_CAST('5.7') rounds where Spark try_cast nulls
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet/*.parquet'")
    (o,) = con.sql(SQL_JSON_STATS).fetchall()
    assert o == (r.event_type, r.n_events, r.n_with_k, r.sum_k, r.min_k, r.max_k)


def test_chunk_documents_invariants(spark, tmp_path):
    """Chunking invariants on crafted docs + the zero-Exchange plan claim:
    starts advance by CHUNK_STRIDE, every word lands in some chunk, only
    the tail chunk is ragged, and the fingerprint really is the md5 of the
    exact word window."""
    import hashlib

    from swissgeol_ocr_spark.plans.queries import (
        CHUNK_STRIDE,
        CHUNK_W,
        q_chunk_documents,
    )

    texts = {
        1: " ".join(f"w{i}" for i in range(CHUNK_W)),          # exactly one window
        2: " ".join(f"x{i}" for i in range(10)),               # short doc
        3: " ".join(f"y{i}" for i in range(CHUNK_W * 3 + 7)),  # ragged tail
        4: "solo",
    }
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        [(k, "s", v) for k, v in texts.items()], "doc_id long, source string, text string"
    ).write.parquet(f"{d}/documents.parquet")

    rows = q_chunk_documents(spark, d).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, chunks in by_doc.items():
        wlist = texts[doc_id].split(" ")
        n = len(wlist)
        chunks.sort(key=lambda r: r.chunk_idx)
        starts = [r.start_word for r in chunks]
        assert starts == list(range(0, n, CHUNK_STRIDE))
        covered = set()
        for r in chunks:
            assert r.n_words == min(CHUNK_W, n - r.start_word)
            window = wlist[r.start_word : r.start_word + CHUNK_W]
            assert r.chunk_fp == hashlib.md5(" ".join(window).encode()).hexdigest()
            covered.update(range(r.start_word, r.start_word + r.n_words))
        assert covered == set(range(n))  # no word dropped
    assert by_doc[2][0].n_words == 10 and len(by_doc[2]) == 1
    assert by_doc[4][0].n_words == 1  # single-word doc yields one chunk

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q_chunk_documents(spark, d).explain("formatted")
    assert "Exchange" not in buf.getvalue()  # map-only at any scale


def test_event_family_hand_vectors(spark, tmp_path):
    """Hand-computed fixture for the event-stream family. The DuckDB
    oracles prove cross-engine agreement, but both faces could encode the
    same wrong idea — these vectors pin the SEMANTICS: same-timestamp
    view-before-click matching (asof), the >= gap rule at an exact 30-min
    boundary (sessionize), funnel stage ordering (a click with no prior
    view reaches stage 0 paths), and discrete quantile ranks."""
    import datetime as dt

    from swissgeol_ocr_spark.plans.queries import (
        q_asof_join,
        q_funnel_stages,
        q_percentiles,
        q_sessionize,
    )

    T = lambda h, m: dt.datetime(2024, 3, 1, h, m, 0)
    rows = [
        # user 1: view/click at the SAME ts, a 30-min-exact gap, a late view
        (1, T(10, 0), 1, "view", 1.00, "{}"),
        (2, T(10, 0), 1, "click", 2.00, "{}"),
        (3, T(10, 10), 1, "click", 3.00, "{}"),
        (4, T(10, 40), 1, "purchase", 4.00, "{}"),
        (5, T(11, 20), 1, "view", 6.00, "{}"),
        # user 2: click BEFORE any view, then a view with nothing after
        (6, T(9, 0), 2, "click", 5.00, "{}"),
        (7, T(9, 5), 2, "purchase", 7.00, "{}"),
        (8, T(9, 30), 2, "view", 8.00, "{}"),
    ]
    schema = ("event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    d = str(tmp_path / "ev")
    spark.createDataFrame(rows, schema).write.parquet(f"{d}/events.parquet")

    asof = {r.click_id: r for r in q_asof_join(spark, d).collect()}
    assert set(asof) == {2, 3, 6}
    assert asof[2].matched_view_id == 1 and asof[2].lag_us == 0  # same-ts view
    assert asof[3].matched_view_id == 1 and asof[3].lag_us == 600 * 1_000_000
    assert asof[6].matched_view_id is None and asof[6].lag_us is None

    sess = {
        (r.user_id, r.session_seq): r for r in q_sessionize(spark, d).collect()
    }
    # user 1: exactly-30-min gap between e3 and e4 STARTS a new session (>=,
    # matching session_window's half-open windows)
    assert sess[(1, 1)].n_events == 3 and sess[(1, 1)].sum_value_cents == 600
    assert sess[(1, 2)].n_events == 1 and sess[(1, 2)].sum_value_cents == 400
    assert sess[(1, 3)].n_events == 1
    assert sess[(2, 1)].n_events == 3  # 5-min and 25-min gaps merge
    assert len(sess) == 4

    fun = {r.user_id: r for r in q_funnel_stages(spark, d).collect()}
    assert fun[1].reached_stage == 3
    assert fun[1].first_view == T(10, 0)
    assert fun[1].first_click_after == T(10, 0)  # same-ts click qualifies
    assert fun[1].first_purchase_after == T(10, 40)
    # user 2's click/purchase precede the first view: stage 1 only
    assert fun[2].reached_stage == 1
    assert fun[2].first_click_after is None and fun[2].first_purchase_after is None

    pct = {r.event_type: r for r in q_percentiles(spark, d).collect()}
    assert pct["click"].n == 3
    assert pct["click"].p50_cents == 300  # rank ceil(3*50/100)=2 of [200,300,500]
    assert pct["click"].p90_cents == 500 and pct["click"].max_cents == 500
    assert pct["view"].p50_cents == 600  # [100,600,800]
    assert pct["purchase"].n == 2 and pct["purchase"].p50_cents == 400


def test_event_family_differential_random(spark, tmp_path):
    """Seeded randomized differential for sessionize / asof_join /
    funnel_stages against a pure-python replay: 2,000 events over 30
    users with planted same-microsecond view+click collisions and
    exact-30-minute gaps (the two boundary cases), plus ordinary random
    traffic. The replay is an independent object-at-a-time walk — if the
    window formulation and the replay agree on every session, match and
    stage over this space, the declarative plans encode the intended
    semantics, not a shared artifact."""
    import datetime as dt
    import random

    from swissgeol_ocr_spark.plans.queries import (
        q_asof_join,
        q_funnel_stages,
        q_sessionize,
    )

    rng = random.Random(4242)
    base = dt.datetime(2024, 6, 1)
    types = ["view", "click", "purchase", "signup", "error"]
    rows = []
    eid = 0
    for u in range(1, 31):
        t = base + dt.timedelta(seconds=rng.randrange(0, 3600))
        for _ in range(rng.randrange(40, 90)):
            r = rng.random()
            if r < 0.08:
                gap = dt.timedelta(minutes=30)  # exact boundary
            elif r < 0.5:
                gap = dt.timedelta(seconds=rng.randrange(1, 1700))
            else:
                gap = dt.timedelta(seconds=rng.randrange(1800, 7200))
            t = t + gap
            if rng.random() < 0.1:
                # same-microsecond view + click collision
                rows.append((eid, t, u, "view", rng.randrange(100, 9999) / 100, "{}"))
                eid += 1
                rows.append((eid, t, u, "click", rng.randrange(100, 9999) / 100, "{}"))
                eid += 1
            else:
                rows.append(
                    (eid, t, u, rng.choice(types), rng.randrange(100, 9999) / 100, "{}")
                )
                eid += 1
    schema = ("event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    d = str(tmp_path / "ev")
    spark.createDataFrame(rows, schema).write.parquet(f"{d}/events.parquet")

    by_user: dict[int, list] = {}
    for eid_, ts, u, typ, val, _ in rows:
        by_user.setdefault(u, []).append((ts, eid_, typ, val))

    # --- python replay: sessions --------------------------------------
    want_sessions = {}
    for u, evs in by_user.items():
        evs.sort()
        seq, prev = 0, None
        agg = None
        for ts, _eid, _typ, val in evs:
            cents = round(val * 100)
            if prev is None or (ts - prev) >= dt.timedelta(minutes=30):
                seq += 1
                agg = want_sessions[(u, seq)] = {
                    "n": 0, "cents": 0, "start": ts, "end": ts,
                }
            agg["n"] += 1
            agg["cents"] += cents
            agg["end"] = ts
            prev = ts
    got = q_sessionize(spark, d).collect()
    assert len(got) == len(want_sessions)
    for r in got:
        w = want_sessions[(r.user_id, r.session_seq)]
        assert (r.n_events, r.sum_value_cents) == (w["n"], w["cents"])
        assert (r.session_start, r.session_end) == (w["start"], w["end"])
        assert r.duration_us == int((w["end"] - w["start"]).total_seconds() * 1e6)

    # --- python replay: as-of ------------------------------------------
    want_asof = {}
    for u, evs in by_user.items():
        walk = sorted(
            (ts, 0 if typ == "view" else 1, e, typ) for ts, e, typ, _ in evs
            if typ in ("view", "click")
        )
        last_view = None
        for ts, _probe, e, typ in walk:
            if typ == "view":
                last_view = (e, ts)
            else:
                want_asof[e] = last_view
    got_asof = {r.click_id: r for r in q_asof_join(spark, d).collect()}
    assert set(got_asof) == set(want_asof)
    for cid, r in got_asof.items():
        w = want_asof[cid]
        if w is None:
            assert r.matched_view_id is None and r.lag_us is None
        else:
            assert r.matched_view_id == w[0]
            assert r.lag_us == int((r.click_ts - w[1]).total_seconds() * 1e6)

    # --- python replay: percentiles --------------------------------------
    from swissgeol_ocr_spark.plans.queries import q_percentiles

    by_type: dict[str, list[int]] = {}
    for _eid, _ts, _u, typ, val, _p in rows:
        by_type.setdefault(typ, []).append(round(val * 100))
    got_pct = {r.event_type: r for r in q_percentiles(spark, d).collect()}
    assert set(got_pct) == set(by_type)
    for typ, cents in by_type.items():
        cents.sort()
        n = len(cents)
        r = got_pct[typ]
        assert r.n == n and r.max_cents == cents[-1]
        for p, field in ((50, "p50_cents"), (90, "p90_cents"), (99, "p99_cents")):
            rank = (n * p + 99) // 100  # ceil
            assert getattr(r, field) == cents[rank - 1], (typ, p)

    # --- python replay: funnel ------------------------------------------
    got_fun = {r.user_id: r for r in q_funnel_stages(spark, d).collect()}
    for u, evs in by_user.items():
        walk = sorted((ts, 0, e, typ) for ts, e, typ, _ in evs)
        v1 = c1 = p1 = None
        for ts, _z, _e, typ in walk:
            if typ == "view" and v1 is None:
                v1 = ts
            elif typ == "click" and v1 is not None and c1 is None:
                c1 = ts
            elif typ == "purchase" and c1 is not None and p1 is None:
                p1 = ts
        r = got_fun[u]
        assert (r.first_view, r.first_click_after, r.first_purchase_after) == (
            v1, c1, p1,
        )
        assert r.reached_stage == (3 if p1 else 2 if c1 else 1 if v1 else 0)


def test_semantic_dedup_invariants_and_reuse(spark):
    """SemDeDup keep-decision invariants plus the multi-consumer plan
    shape: the IVF-assignment subtree ends in ONE canonical Exchange on
    ivf_list, so the pair self-join's two sides AND the final decision
    join all reuse a single computation — the executed adaptive plan must
    show (at least) two ReusedExchange nodes, not three copies of the
    assignment subtree. At sf0.01 AQE legitimately broadcasts the tiny
    sides (which recomputes the subtree — cheap at 500 rows, wrong at
    100 TB), so the shape assertion pins the SCALE regime: broadcasts
    disabled, the plan Catalyst would pick when no side fits in memory.
    AQE is ALSO disabled for the shape check: the static ReuseExchange
    rule is deterministic, while AQE's runtime stage cache was observed
    to miss the same reuse depending on session history (0 ReusedExchange
    mid-suite, 2 standalone, identical query) — at runtime AQE reuse is
    same-or-better, but it is not a stable test pin."""
    from swissgeol_ocr_spark.plans.queries import q_semantic_dedup

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.enabled",
        )
    }
    try:
        for k in saved:
            spark.conf.set(
                k, "false" if k == "spark.sql.adaptive.enabled" else "-1"
            )
        big = q_semantic_dedup(spark, SF_DIR)
        # rows are conf-independent — one execution serves the invariant
        # checks below AND the plan-shape assertion
        rows = big.collect()
        plan = big._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ReusedExchange") >= 2
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    by_id = {r.vec_id: r for r in rows}
    assert len(rows) == 500  # one decision row per vector at sf0.01
    dups = [r for r in rows if not r.keep]
    assert len(dups) >= 10  # discriminating, not a near-empty oracle
    for r in dups:
        # a duplicate's keeper is an earlier vector in the SAME cluster
        assert r.dup_of is not None and r.dup_of < r.vec_id
        assert by_id[r.dup_of].ivf_list == r.ivf_list
    for r in rows:
        if r.keep:
            assert r.dup_of is None
    # the minimum-id member of every cluster can have no earlier
    # clustermate, so it is always kept
    first: dict[int, int] = {}
    for r in rows:
        if r.ivf_list not in first or r.vec_id < first[r.ivf_list]:
            first[r.ivf_list] = r.vec_id
    for vid in first.values():
        assert by_id[vid].keep


def test_winnow_pairs_guarantee_and_hot_cap(spark, tmp_path):
    """Three pinned properties of the MOSS-style pair query: (1) the
    winnowing guarantee — two documents sharing a word run of at least
    WINNOW_W + WINNOW_K - 1 words MUST surface as a pair; (2) the
    hot-print cap — a cohort of byte-identical documents wider than
    WINNOW_HOT_CAP has EVERY print routed out of the inverted index, so
    it produces no pairs at all (the adversarial-cluster bound); (3) a
    same-text cohort NARROWER than the cap sails through at full overlap.

    Deliberately byte-identical cohorts: with a unique-per-doc prefix,
    winnowing's selection near the boundary is context-dependent, so a
    boilerplate print may be SELECTED by only a sub-cap subset of the
    cohort and legitimately survive — the cap bounds per-print fan-in,
    it is not a semantic boilerplate filter (same recall caveat as the
    Jaccard hot-shingle cap)."""
    from swissgeol_ocr_spark.plans.queries import (
        WINNOW_HOT_CAP,
        WINNOW_K,
        WINNOW_W,
        q_winnow_pairs,
    )

    shared_run = " ".join(f"s{i}" for i in range(WINNOW_W + WINNOW_K - 1 + 5))
    rows = [
        (0, "alpha bravo " + shared_run + " charlie delta", "en", "s1"),
        (1, "echo foxtrot golf " + shared_run + " hotel", "en", "s1"),
    ]
    hot = "all rights reserved contact the site administrator today ok then"
    cold = "this entirely different footer appears on a small site only"
    n_hot = WINNOW_HOT_CAP + 6
    n_cold = 10
    for d in range(n_hot):
        rows.append((100 + d, hot, "en", "s2"))
    for d in range(n_cold):
        rows.append((300 + d, cold, "en", "s3"))
    sf = _write_documents(spark, tmp_path, rows)

    pairs = {(r.a_id, r.b_id): r for r in q_winnow_pairs(spark, sf).collect()}
    assert (0, 1) in pairs  # (1) the guarantee
    hot_pairs = [p for p in pairs if 100 <= p[0] < 300 and 100 <= p[1] < 300]
    assert hot_pairs == []  # (2) over-cap cohort fully routed
    cold_pairs = [p for p in pairs if p[0] >= 300 and p[1] >= 300]
    assert len(cold_pairs) == n_cold * (n_cold - 1) // 2  # (3) sub-cap flows
    for p in cold_pairs:
        assert pairs[p].overlap_ppm == 1_000_000


def test_registry_prefix_covers_flagship():
    """Registry-ordering tripwire (round-5 verdict #1/#7): the driver's
    external correctness gate verifies the FIRST 50 registry entries in
    dict order, so the highest-information faces must sit in that prefix.
    Round 5's mid-dict insertions silently pushed the extraction
    composites past position 50; this pin makes any such reshuffle a
    loud test failure instead of a silent evidence gap."""
    from swissgeol_ocr_spark.plans.queries import GOLDEN_SF01_QUERIES, QUERIES

    prefix = set(list(QUERIES)[:50])
    # the north-rule span-equality oracles + every SF-pinned golden face
    assert GOLDEN_SF01_QUERIES <= prefix, GOLDEN_SF01_QUERIES - prefix
    # every headline bench query is externally verified
    headline = {
        "extract_flagship", "extract_words", "c5_confidence_filter",
        "agg_block_stats", "join_broadcast_dim", "dedup_exact",
        "dedup_minhash_lsh", "cosine_topk", "quality_score", "token_count",
        "corpus_curation", "stratified_sample", "star_join_q5", "sessionize",
    }
    assert headline <= prefix, headline - prefix
    # the round-5 text-analysis/dedup-spine faces the verdict called out
    verdict_faces = {
        "extract_sequence", "extract_aggressive", "dedup_clusters",
        "training_mix", "bm25_rank", "tfidf_topk", "lm_score",
        "dedup_lines", "dedup_substrings", "winnow_fingerprint",
        "winnow_pairs", "temperature_mix", "pack_sequences",
        "decontaminate", "boilerplate_strip", "pii_scrub", "topk_ngrams",
        "repetition_ratio", "source_domain_filter", "corpus_stats",
    }
    assert verdict_faces <= prefix, verdict_faces - prefix
    # manifest invariant: 75 registered, 50 externally verified
    assert len(QUERIES) == 75


def test_declared_schemas_match_inferred(spark):
    """Every table file's footer schema equals its declared SCHEMAS entry
    exactly (names, types, nullability), in every SF directory present:
    the TESTDATA tables beside SF_DIR and the benchmark's read-only
    copies. Spark widens or null-fills a file read under a declared
    schema without complaint, so this is the one place a drifted
    declaration fails loudly."""
    import glob
    import os

    from pyspark.sql.types import StructType

    from swissgeol_ocr_spark.plans.queries import SCHEMAS

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*")) + glob.glob(
        os.path.join(repo, "perfbench", "testdata", "sf*")
    )
    assert set(SCHEMAS) == set(TABLES)
    checked = []
    for d in sorted(dirs):
        for name in TABLES:
            p = f"{d}/{name}.parquet"
            if os.path.exists(p):
                assert spark.read.parquet(p).schema == StructType.fromDDL(
                    SCHEMAS[name]
                ), p
                checked.append(p)
    assert checked, "no SF directory found"
