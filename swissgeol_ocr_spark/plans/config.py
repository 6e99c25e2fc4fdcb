"""Job configuration — the Spark analogue of the reference's env-driven
settings (/root/reference/utils/settings.py:10-14).

Only the knobs that affect extraction semantics live here; cluster tuning
(shuffle partitions, AQE, Arrow batch size) is applied by
``plans.pipeline.configure_spark``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ExtractConfig:
    # SharedSettings.confidence_threshold (settings.py:13) — required in the
    # reference; we default to the value used throughout its docs/tests era.
    confidence_threshold: float = 0.7
    # SharedSettings.use_aggressive_strategy (settings.py:14), default False.
    use_aggressive_strategy: bool = False
    # Spans above this count mark a document as skewed ("mega-doc"): it is
    # split page-wise before the kernel and reassembled after (SURVEY §4.2).
    mega_doc_span_cutoff: int = 20_000
    # When the input carries word-level spans (the raw detection granularity
    # — Textract WORD blocks in the reference), group them into text lines
    # first via the E1 band/word-join rules (assemble.lines_from_words);
    # line confidence = mean of word confidences.
    build_lines_from_words: bool = False


@dataclass(frozen=True)
class DedupConfig:
    """Scale knobs for the near-dup family.

    The SimHash banded Hamming join is pigeonhole-complete for distance
    d ≤ bands − 1; fingerprint width = bands × band_bits. Two levers:

    * ``simhash_bands``     — more bands = larger complete distance AND a
      cheaper per-band key, but more candidate rows per doc
    * ``simhash_band_bits`` — the bucket-count lever: 2^band_bits values
      per band. THIS is what must grow with corpus size — at 10^12 docs an
      8-bit band has only 256 buckets, so each bucket goes quadratic.

    Every width runs as TWO BIGINT halves, bands 0..bands/2−1 in the low
    half, with band keys derived before packing
    (functions/textops.simhash_wide_band_values / pack_band_half), so
    nothing caps the bucket count at a single BIGINT's sign bit. That
    layout holds an even number of bands ≥ 2 with at most 64 bits per
    half (128 in all — one md5 digest's worth of vote bits);
    ``__post_init__`` rejects any other setting.

    Default: the corpus-scale setting — 8 bands × 16 bits = 128-bit
    fingerprints, complete for d ≤ 7 AND 65,536 buckets per band (the
    round-3 default was 8×7 = 56-bit: d ≤ 7 but only 128 buckets/band,
    which goes quadratic within buckets at 10^12 docs)."""

    simhash_bands: int = 8
    simhash_band_bits: int = 16
    # Hot-bucket actuator (round-5): the banded families collapse exact
    # duplicates to one representative BEFORE banding (a k-wide
    # byte-identical cluster — ubiquitous web boilerplate — costs O(1)
    # banded rows instead of O(k), so its candidate pairs are O(1) instead
    # of O(k²)), and any band bucket whose REPRESENTATIVE population still
    # exceeds this cap is routed out of the pair join (same shape as the
    # Jaccard hot-shingle cap). A pair is lost only if EVERY band it shares
    # is over-cap — with 8 independent bands that is precisely the
    # pathological near-identical mega-cluster whose k² candidates would
    # kill the stage; `dedup_band_stats.n_over_cap` counts the routed
    # buckets so the drop is never silent.
    band_bucket_cap: int = 200

    def __post_init__(self) -> None:
        bands, band_bits = self.simhash_bands, self.simhash_band_bits
        if bands < 2 or bands % 2 or (bands // 2) * band_bits > 64:
            raise ValueError(
                f"DedupConfig(simhash_bands={bands}, simhash_band_bits="
                f"{band_bits}): the two-BIGINT SimHash layout needs an even "
                "band count >= 2 and at most 64 bits per half"
            )

    @property
    def simhash_bits(self) -> int:
        return self.simhash_bands * self.simhash_band_bits
