"""Text-analysis + deduplication column functions for training-data
pipelines at 100 TB scale.

Everything here is built from JVM-side ``pyspark.sql.functions`` only — no
Python UDFs anywhere — so Catalyst keeps whole-stage codegen across the
hot path and each operator's cost is a linear scan + (for the dedup
family) one shuffle on a compact key.

Operators (each exposed in the driver contract with a DuckDB oracle):

* exact dedup          — md5 fingerprint groupBy (one shuffle on a 32-byte key)
* n-gram Jaccard       — shingle explode + equi-join on (source, shingle);
                         candidate pairs bounded by the source partition
* MinHash + LSH        — k md5-min signatures, banded; near-dup candidates
                         meet in a band-key shuffle instead of O(n²) pairs
* SimHash              — 16-bit sign-aggregated token hash, engine-portable
                         (hex-nibble arithmetic instead of native hashing)
* language ID          — stopword-marker scoring with a fixed precedence
* quality score        — length / punctuation / stopword / word-length mix
* token counting       — whitespace + BPE-ish regex segmentation
* fingerprinting       — normalized-text md5 (rolling-hash stand-in that
                         both engines compute identically)

Cross-engine determinism note: all hashing is md5-over-strings because
Spark's xxhash64/hash are not reproducible in other engines; md5 is.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")

LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "les", "et"),
    "es": ("el", "los", "las", "y"),
}
LANG_PRECEDENCE = ("en", "de", "fr", "es")

BPE_ISH_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def words(text: Column) -> Column:
    return F.split(text, " ")


def shingles_of_words(w: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of an already-materialized words array.

    Pass a *column reference* (not an inline ``split(...)`` expression):
    expressions referenced inside ``transform`` lambdas are re-evaluated per
    element, so an inline split would cost O(words²) per row."""
    return F.array_distinct(
        F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda i: F.concat_ws(" ", *[F.element_at(w, i + k) for k in range(n)]),
            ),
        ).otherwise(F.array(F.array_join(w, " ")))  # short text → one shingle
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (array<string>).
    Prefer materializing the words array and calling ``shingles_of_words``
    in hot paths (see that docstring)."""
    return shingles_of_words(words(text), n)


def normalized_fingerprint(text: Column) -> Column:
    """md5 of the lower-cased, whitespace-collapsed, punctuation-free text —
    the document fingerprint both engines compute bit-identically."""
    norm = F.regexp_replace(F.lower(text), "[^a-z0-9 ]", "")
    norm = F.regexp_replace(norm, " +", " ")
    return F.md5(F.trim(norm))


def exact_collapse(docs: DataFrame) -> DataFrame:
    """Collapse byte-identical documents to ONE representative before any
    banded near-dup work: (doc_id, text, n_dups) with doc_id = the smallest
    member id (the same keep-first rule as ``dedup_exact``), text = the
    shared body, n_dups = cluster multiplicity.

    THE hot-duplicate actuator (round-4 verdict's one named scale-killer):
    web boilerplate duplicated k ≈ 10⁶ times shares every band key, so
    banding members puts k rows in one bucket and the band-key self-join
    mints k² candidate rows inside that bucket no matter how many buckets
    exist. Collapsing first costs one partial-agged groupBy on a 32-byte
    md5 key (text travels once per distinct fingerprint per map partition)
    and makes the cluster cost O(1) banded rows; membership re-expansion —
    where it is wanted at all (clustering, curation) — is a LINEAR join
    against the (fp → keeper) relation, never a pair product. ``min(text)``
    is exact, not a tie-break: every row in an md5 group carries the
    identical body, so any element is THE text."""
    return (
        docs.groupBy(F.md5("text").alias("_fp"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("text").alias("text"),
            F.count("*").alias("n_dups"),
        )
        .select("doc_id", "text", "n_dups")
    )


# DuckDB twin of exact_collapse, reused by every generated oracle
SQL_EXACT_COLLAPSE = (
    "SELECT min(doc_id) AS doc_id, min(text) AS text, "
    "CAST(count(*) AS BIGINT) AS n_dups FROM documents GROUP BY md5(text)"
)


def cap_band_buckets(
    banded: DataFrame, cap: int, key_col: str = "band_key"
) -> DataFrame:
    """Route over-populated band buckets OUT of the pair join (the Jaccard
    hot-shingle cap generalized to every banded family): buckets whose
    representative population exceeds ``cap`` are dropped before the
    self-join, bounding any bucket's candidate contribution at cap².

    Exact duplicates never trip this (``exact_collapse`` runs first); what
    does is a *near*-identical mega-cluster — >cap distinct texts agreeing
    on a band value. A true near-dup pair is lost only if EVERY band it
    shares is over-cap; ``band_population_stats(..., cap=...)`` counts the
    routed buckets per band so the drop is visible, never silent.

    Shape: a COUNT window over one hash exchange on the band key, NOT a
    groupBy+semi-join — deliberately. The capped relation feeds a
    self-join (two consumers) and Spark does no common-subplan
    elimination, so a semi-join formulation re-evaluates the whole
    collapse→signature→band subtree once per consumer per side (measured
    4× = +2.4× wall on the wide-SimHash pairs at sf0.1). With the window,
    every consumer sits on the SAME canonical Exchange so runtime
    ReuseExchange CAN evaluate the expensive subtree once — best-effort
    (observed firing standalone and not firing mid-suite; unpinnable),
    which is why the subtree is ALSO width-pinned (``pin_width``): when
    reuse does not fire, each re-evaluation is parallel, not serial. The
    window itself is one count per already-shuffled partition, and the
    join that follows reuses the bk partitioning."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col)
    return (
        banded.withColumn("_bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_bucket_n") <= cap)
        .drop("_bucket_n")
    )


def pin_width(df: DataFrame, *key_cols: str) -> DataFrame:
    """Explicit width pin (REPARTITION_BY_NUM) ahead of CPU-heavy per-row
    derivations. AQE's partition coalescing targets BYTES (advisory size /
    parallelismFirst) and is blind to downstream per-row CPU: a few-MB
    relation feeding md5-per-shingle work gets coalesced into one or two
    tasks and the derivation serializes while the rest of the cluster
    idles (measured: dedup_minhash_lsh 1.38s → 0.72s warm at sf0.1 from
    this pin alone). A user-specified numPartitions exchange is never
    AQE-coalesced, so the derivation width is guaranteed. Cost: one slim
    exchange of the keyed relation; at fleet scale, where the upstream
    aggregate is already wide, that is one extra pass over
    (doc_id, text) — cheap insurance that a size-coalesced CPU-heavy
    stage can never serialize. Doubly important because runtime
    ReuseExchange is best-effort (CLAUDE.md: unpinnable): when a banded
    subtree IS re-evaluated per self-join side, the pin makes each
    evaluation parallel instead of serial."""
    return df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, *key_cols
    )


def minhash_band_relation(reps: DataFrame, pin: bool = True) -> DataFrame:
    """(doc_id, n_dups, band_key) — the banded MinHash-LSH relation over an
    ``exact_collapse``d (doc_id, text, n_dups) representative set: word-3-
    gram shingles → one md5 per shingle → 8-slice signature → 4 bands × 2
    rows. Each stage materializes its array column first (HOF lambdas do no
    common-subexpression elimination — see ``md5_digests``). Shared by the
    batch pair query and the incremental streaming leg so both sides band
    identically. Width-pinned by default: the shingle-md5 sweep is the
    CPU-heavy stage AQE would otherwise size-coalesce into one task.
    The streaming leg passes ``pin=False`` — a foreachBatch micro-batch
    is a handful of just-checkpointed rows, and an unconditional
    defaultParallelism-wide exchange would tax every micro-batch with
    near-empty tasks for data that fits one."""
    from swissgeol_ocr_spark.exprcache import cached_cols

    if pin:
        reps = pin_width(reps, "doc_id")
    # the four stage expressions are pure functions of module constants +
    # the fixed intermediate column names, so they are built once per JVM
    # (exprcache) instead of walking ~0.3 s of py4j calls per query build
    w = reps.select("doc_id", "n_dups", F.split("text", " ").alias("w"))
    sh = w.select(
        "doc_id", "n_dups",
        cached_cols(("mbr", "sh"), lambda: shingles_of_words(F.col("w"))).alias("sh"),
    )
    dg = sh.select(
        "doc_id", "n_dups",
        cached_cols(("mbr", "dg"), lambda: md5_digests(F.col("sh"))).alias("dg"),
    )
    sig = dg.select(
        "doc_id", "n_dups",
        cached_cols(("mbr", "sig"), lambda: minhash_signature(F.col("dg"))).alias("sig"),
    )
    # explode_outer, NOT explode: InferFiltersFromGenerate would add a
    # size()>0 filter whose pushdown inlines the full signature expression
    # per band (the array is non-empty by construction)
    return sig.select(
        "doc_id",
        "n_dups",
        F.explode_outer(
            cached_cols(("mbr", "band"), lambda: lsh_band_keys(F.col("sig")))
        ).alias("band_key"),
    )


def md5_digests(string_array: Column) -> Column:
    """One md5 per array element. MATERIALIZE this as a real column before
    feeding it to the signature builders — Catalyst does not eliminate
    common subexpressions across higher-order-function lambdas, so an
    inlined expression would recompute every md5 k times."""
    return F.transform(string_array, lambda s: F.md5(s))


# The production MinHash-LSH banding: k = bands × rows signature slices.
# Single source of truth — the evidence script (scripts/dedup_quality.py)
# and its pinned test derive the theory curve p(s) = 1-(1-s^rows)^bands
# from THESE values, so a retune here re-labels the evidence with it.
MINHASH_SIG_K = 8
MINHASH_BANDS = 4
MINHASH_ROWS = 2


def minhash_signature(digests: Column, k: int = MINHASH_SIG_K) -> Column:
    """k-element MinHash signature from ONE md5 per shingle: the 32-hex
    digest is sliced into k 4-hex sub-hashes and each signature element is
    the lexicographic min of its slice over the shingles (the standard
    split-one-strong-hash construction — k× cheaper than independent
    hashes, and engine-portable). Input: a materialized ``md5_digests``
    column (see its docstring). array<string> of length k."""
    return F.array(
        *[
            F.array_min(F.transform(digests, lambda d: F.substring(d, i * 4 + 1, 4)))
            for i in range(k)
        ]
    )


def lsh_band_keys(
    signature: Column, bands: int = MINHASH_BANDS, rows: int = MINHASH_ROWS
) -> Column:
    """Band the signature: band key = band_id || md5-concat of its rows.
    Near-duplicates collide on at least one band key with high probability;
    the join that finds them shuffles on this compact key."""
    return F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(b)),
                *[F.element_at(signature, b * rows + r + 1) for r in range(rows)],
            )
            for b in range(bands)
        ]
    )


def simhash16(digests: Column) -> Column:
    """16-bit SimHash over a materialized per-token ``md5_digests`` column,
    engine-portable (the round-1 fingerprint face): per token, bit j votes
    on the top bit of md5 nibble j (value ≥ 8 → +1, else −1). Returned as
    INT. The banded near-dup family runs the wider
    ``simhash_wide_band_values`` scheme instead."""
    def _vote(j):
        # separate factory so the merge lambda keeps exactly 2 parameters
        # (PySpark derives the HOF arity from the signature)
        return lambda acc, d: acc + F.when(
            F.instr(F.lit("0123456789abcdef"), F.substring(d, j + 1, 1)) >= 9,
            F.lit(1),
        ).otherwise(F.lit(-1))

    bit_cols = []
    for j in range(16):
        votes = F.aggregate(digests, F.lit(0), _vote(j))
        bit_cols.append(F.when(votes > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bit_cols[0].cast("long")
    for c in bit_cols[1:]:
        out = out + c.cast("long")
    return out.cast("int")


def simhash_wide_band_values(
    digests: Column, bands: int = 8, band_bits: int = 16
) -> Column:
    """The near-dup family's SimHash: per-BAND fingerprint values
    (array<bigint>, length ``bands``) for every ``DedupConfig`` width —
    up to 128 bits from one materialized md5 digest per token.

    Vote scheme (documented for the DuckDB twin,
    plans.queries.sql_dedup_simhash_pairs): fingerprint bit
    j ∈ [0, 128) votes on bit (j mod 4) of md5 nibble (j div 4) — all four
    bits of every nibble serve as vote bits, so one digest covers the full
    128 bits with no extra hashing.

    Cost shape: ONE ``aggregate`` pass over the token digests with a
    per-bit vote-counter array accumulator — 32 ``instr`` calls per digest
    (nibble values are materialized by an inner ``transform`` before the
    per-bit tests; HOF lambdas do no common-subexpression elimination, so
    the naive 128-aggregates form would cost 4× the hashing). The band
    values are derived inside the aggregate's ``finish`` lambda, where the
    final accumulator is a bound variable (evaluated once). Callers MUST
    materialize the returned array as a real column before slicing it into
    band columns (CollapseProject keeps a multi-referenced non-trivial
    alias in its own Project, so the aggregate runs once per row)."""
    bits = bands * band_bits
    assert 0 < bits <= 128, "one md5 digest carries at most 128 vote bits"
    hexd = F.lit("0123456789abcdef")

    def votes_of(d):
        # inner transform materializes the 32 nibble values; the outer one
        # expands each into its 4 ±1 vote bits (cheap arithmetic on a bound
        # lambda variable, no re-hashing)
        nibs = F.transform(F.split(d, ""), lambda c: F.instr(hexd, c) - 1)
        per_nib = F.transform(
            nibs,
            lambda v: F.array(
                *[
                    F.when(
                        F.shiftright(v, k).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                    ).otherwise(F.lit(-1))
                    for k in range(4)
                ]
            ),
        )
        return F.slice(F.flatten(per_nib), 1, bits)

    def band_value(acc, b):
        col = F.lit(0).cast("long")
        for k in range(band_bits):
            col = col + F.when(
                F.element_at(acc, b * band_bits + k + 1) > 0, F.lit(1 << k)
            ).otherwise(F.lit(0)).cast("long")
        return col

    return F.aggregate(
        digests,
        F.array_repeat(F.lit(0), bits),
        lambda acc, d: F.zip_with(acc, votes_of(d), lambda a, v: a + v),
        lambda acc: F.array(*[band_value(acc, b) for b in range(bands)]),
    )


def pack_band_half(band_values: list[Column], band_bits: int) -> Column:
    """Pack ``len(band_values) × band_bits`` bits (little-endian band
    order) into ONE BIGINT, engine-portably. When the top band's slice
    reaches bit 63 the value is sign-adjusted BEFORE the shift-by-multiply
    ((b − 2^band_bits) · 2^shift is the same two's-complement bit pattern
    as the wrapping shift, but never overflows a signed multiply — DuckDB
    refuses ``<<`` past bit 62, so the twin uses the identical formula).
    Inputs must be materialized band-value columns in [0, 2^band_bits)."""
    total = len(band_values) * band_bits
    assert total <= 64
    acc = band_values[0].cast("long")
    for i, b in enumerate(band_values[1:], start=1):
        shift = i * band_bits
        if shift + band_bits == 64:
            adj = F.when(
                b >= F.lit(1 << (band_bits - 1)), b - F.lit(1 << band_bits)
            ).otherwise(b)
        else:
            adj = b
        acc = acc.bitwiseOR(adj.cast("long") * F.lit(1 << shift).cast("long"))
    return acc


def band_keys_from_values(band_values: list[Column]) -> Column:
    """'b:value' join keys straight from materialized band-value columns
    (no shift arithmetic on the packed halves — the sign bit never gets a
    chance to bite). array<string>, one element per band."""
    return F.array(
        *[
            F.concat_ws(":", F.lit(str(b)), v.cast("string"))
            for b, v in enumerate(band_values)
        ]
    )


def simhash_band_keys_from_halves(
    lo: Column, hi: Column, bands: int, band_bits: int
) -> Column:
    """Band keys recovered FROM the packed two-BIGINT fingerprint (for
    synthetic fingerprints / completeness tests; production queries band
    from the pre-packing values via ``band_keys_from_values``). Uses the
    LOGICAL right shift so the top band of each half survives the sign
    bit. Bands 0..bands/2−1 come from ``lo``, the rest from ``hi``."""
    assert bands % 2 == 0 and (bands // 2) * band_bits <= 64
    half = bands // 2
    mask = F.lit((1 << band_bits) - 1)

    def key(b):
        src = lo if b < half else hi
        shift = (b % half) * band_bits
        return F.concat_ws(
            ":",
            F.lit(str(b)),
            F.shiftrightunsigned(src, shift).bitwiseAND(mask).cast("string"),
        )

    return F.array(*[key(b) for b in range(bands)])


def band_population_stats(
    banded: DataFrame, family: str, key_col: str = "bk", cap: int | None = None
) -> DataFrame:
    """Bucket-population skew metrics for a banded dedup relation — the
    'no silent caps' guard: the MAX bucket population is exactly the
    quantity that goes quadratic in the band-key self-join, so surfacing
    it as a metrics row makes a skewed corpus visible BEFORE it is slow
    (at 10^12 docs a hot bucket is a job-killer, not a slowdown).

    Input: one row per (doc, band key), keys shaped 'band:value...'
    (every banded family here uses that shape). Output: one row per band
    with (family, band, n_buckets, max_bucket, n_rows) plus — when ``cap``
    is given — ``n_over_cap``, the count of buckets whose population
    exceeds the ``cap_band_buckets`` routing cap: exactly the buckets the
    pair join drops, so the cap's recall cost is a metrics row, never a
    silent truncation. Two partial-agg shuffles, both on compact keys;
    never materializes pairs."""
    per_key = banded.groupBy(key_col).agg(F.count("*").alias("n"))
    aggs = [
        F.count("*").alias("n_buckets"),
        F.max("n").alias("max_bucket"),
        F.sum("n").alias("n_rows"),
    ]
    if cap is not None:
        aggs.append(
            F.sum(F.when(F.col("n") > cap, 1).otherwise(0)).alias("n_over_cap")
        )
    return (
        per_key.select(
            F.lit(family).alias("family"),
            F.split(F.col(key_col), ":").getItem(0).cast("int").alias("band"),
            F.col("n"),
        )
        .groupBy("family", "band")
        .agg(*aggs)
    )


def hamming_two_bigint(
    lo_a: Column, hi_a: Column, lo_b: Column, hi_b: Column
) -> Column:
    """Exact Hamming distance between two 128-bit fingerprints stored as
    two BIGINT halves: popcount(xor) summed over the halves (bit_count is
    two's-complement-consistent across Spark and DuckDB, negative halves
    included)."""
    return (
        F.bit_count(lo_a.bitwiseXOR(lo_b)) + F.bit_count(hi_a.bitwiseXOR(hi_b))
    ).cast("int")


def lang_score(text: Column, lang: str) -> Column:
    markers = LANG_MARKERS[lang]
    return F.size(F.filter(words(F.lower(text)), lambda w: w.isin(*markers)))


def predicted_lang(text: Column) -> Column:
    """argmax of marker counts with LANG_PRECEDENCE tie-breaking."""
    scores = {lang: lang_score(text, lang) for lang in LANG_PRECEDENCE}
    best = None
    best_score = None
    for lang in reversed(LANG_PRECEDENCE):
        if best is None:
            best = F.lit(lang)
            best_score = scores[lang]
        else:
            cond = scores[lang] >= best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return best


def quality_features(text: Column) -> dict[str, Column]:
    w = words(text)
    n_tokens = F.size(w)
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[\p{Punct}]", ""))
    n_stop = F.size(F.filter(F.transform(w, F.lower), lambda x: x.isin(*STOPWORDS)))
    mean_wlen = (n_chars - (n_tokens - 1)) / n_tokens
    return {
        "n_tokens": n_tokens.cast("long"),
        "n_chars": n_chars.cast("long"),
        "punct_ratio": F.round(n_punct / n_chars, 6),
        "stopword_ratio": F.round(n_stop / n_tokens, 6),
        "mean_word_len": F.round(mean_wlen, 6),
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1]-ish quality score from the features above.

    Weights are 0.4/0.2/0.4 deliberately: the terms are 6-decimal-rounded
    ratios, and even weights keep the 7th decimal of the sum even, so the
    final round(…, 6) never lands on a .5 boundary where engines disagree."""
    f = quality_features(text)
    length_term = F.least(F.lit(1.0), f["n_tokens"] / F.lit(100.0))
    stop_term = F.least(F.lit(1.0), f["stopword_ratio"] * 5)
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - f["punct_ratio"] * 10)
    return F.round(0.4 * length_term + 0.2 * stop_term + 0.4 * punct_pen, 6)


def connected_components_star(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Connected components by large-star / small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm): converges in O(log² n) rounds on ANY
    graph, where plain min-label propagation needs O(diameter) rounds —
    the safe choice for adversarial near-dup graphs (long chains of
    pairwise-similar documents).

    vertices(id), edges(src, dst) → (id, component), component = the
    smallest member id. Each round is two grouped aggregations on the
    node key (one shuffle each); the driver-side loop stops when the edge
    set reaches the star fixpoint (every edge points directly at its
    component minimum). Not reaching it within ``max_iter`` rounds raises
    rather than return partial (silently wrong) labels.
    """
    from pyspark.sql import functions as Fn

    def dedup(e: DataFrame) -> DataFrame:
        return e.filter(Fn.col("src") != Fn.col("dst")).distinct()

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(Fn.col("dst").alias("src"), Fn.col("src").alias("dst")))
        grouped = sym.groupBy("src").agg(
            Fn.collect_set("dst").alias("nbrs"),
            Fn.least(Fn.min("dst"), Fn.first("src")).alias("m"),
        )
        # connect strictly-larger neighbors to the local minimum
        return dedup(
            grouped.select(
                Fn.explode(
                    Fn.filter("nbrs", lambda v: v > Fn.col("src"))
                ).alias("src"),
                Fn.col("m").alias("dst"),
            )
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient every edge from the larger to the smaller endpoint
        directed = e.select(
            Fn.greatest("src", "dst").alias("src"), Fn.least("src", "dst").alias("dst")
        )
        grouped = directed.groupBy("src").agg(Fn.collect_set("dst").alias("nbrs"))
        grouped = grouped.withColumn("m", Fn.array_min("nbrs"))
        # connect all smaller neighbors AND the center to the minimum
        out = grouped.select(
            Fn.explode(
                Fn.array_union("nbrs", Fn.array(Fn.col("src")))
            ).alias("src"),
            Fn.col("m").alias("dst"),
        )
        return dedup(out)

    e = dedup(edges.select("src", "dst"))
    # max_iter productive rounds + 1: convergence is only observable as a
    # zero-change round, so a graph that needs EXACTLY max_iter rounds
    # needs one extra (cheap, no-op) round to prove the fixpoint
    for _ in range(max_iter + 1):
        # localCheckpoint truncates the plan lineage each round — without it
        # the nested round-over-round DAG grows exponentially and the driver
        # OOMs while planning (cluster jobs should point
        # spark.checkpoint.dir at durable storage and use checkpoint())
        e2 = small_star(large_star(e)).localCheckpoint(eager=True)
        changed = (
            e2.exceptAll(e).limit(1).count() + e.exceptAll(e2).limit(1).count()
        )
        e = e2
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter + 1} "
            "rounds; raise max_iter (O(log² n) expected — this is a bug "
            "or a pathological graph)"
        )
    roots = e.select(Fn.col("src").alias("id"), Fn.col("dst").alias("component"))
    return (
        vertices.join(roots, "id", "left")
        .select("id", Fn.coalesce("component", Fn.col("id")).alias("component"))
    )


def token_counts(text: Column) -> dict[str, Column]:
    return {
        "ws_tokens": F.size(words(text)).cast("long"),
        "bpe_ish_tokens": F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_REGEX), 0)).cast("long"),
    }
