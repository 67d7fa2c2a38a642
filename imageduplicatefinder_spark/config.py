"""Pipeline configuration.

Pins every knob that affects dup-pair semantics so that recall is
measured "at identical shingle/signature/band configuration"
(BASELINE.json north_rule). Reference-derived defaults:

- ``hamming_radius`` = 10  — reference CLI default
  (ref: src/main/java/app/Commands.java:120).
- ``threshold_to_radius`` — web path ``radius = round((1-t)*64)``
  (ref: src/main/java/app/Commands.java:406-410).
- ``simhash_bits`` = 64 — all three reference hashers emit a 64-bit long
  (ref: src/main/java/hash/Hasher.java:5).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling ---------------------------------------------------
    # tokenizer: "word" splits on non-alphanumeric runs; "char" uses raw
    # character shingles (better for source code payloads).
    tokenizer: str = "word"
    shingle_k: int = 3            # k-gram size over tokens (or chars)

    # --- MinHash ------------------------------------------------------
    num_perm: int = 128           # MinHash signature length
    seed: int = 42

    # --- LSH banding ----------------------------------------------
    # bands * rows_per_band == num_perm.  64x2 targets high recall at
    # the j>=0.5 operating point: P(candidate | j) = 1-(1-j^2)^64 —
    # ~1-1e-8 at j=0.5 (0.75^64 ≈ 1.0e-8), ~1-4e-13 at j=0.6
    # (0.64^64 ≈ 3.9e-13), while genuinely-unrelated
    # pairs (measured cross-pair j <= 0.011 on the planted corpus)
    # collide with P < 0.008. The recall target (>=0.99 on dup pairs)
    # binds through each member's strongest link (vs the family base,
    # j >= 0.6), so 2-row bands are what make whole-member dropout
    # vanish; the extra low-j candidates are cheap to reject in the
    # verify stage and hot bands are capped (max_band_size).
    lsh_bands: int = 64
    lsh_rows: int = 2

    # --- 64-bit sketch family dispatch ------------------------------
    # The --algo analog (ref: app/Commands.java:58-67 — ahash/dhash/
    # phash all emit one long). "simhash" = multiset-majority bits
    # (aHash/pHash analog); "gradsign" = gradient sign between
    # positional resamples of the token-hash sequence (dHash analog,
    # ref: hash/DHash.java:21-29). Fills the `simhash` sketch slot.
    sketch: str = "simhash"

    # --- verification ---------------------------------------------
    simhash_bits: int = 64
    hamming_radius: int = 10      # ref Commands.java:120 (CLI default)
    # include `hamming <= radius` in the verify rule (the reference's
    # exact predicate, BKTreeIndex.java:42-43). Off by default: a
    # 64-bit SimHash over token frequencies is loose for text payloads
    # (measured: unrelated docs can sit at hamming 9-10), so the
    # default rule is Jaccard/containment; flip on for
    # reference-parity experiments.
    use_simhash_verify: bool = False
    jaccard_threshold: float = 0.5
    # containment: flag pairs where the smaller doc's shingles are
    # (almost) all inside the larger doc's (watermark analog).
    containment_threshold: float = 0.8

    # --- candidate generation ----------------------------------------
    # "lsh": MinHash banding (probabilistic; recall set by the band
    #   curve — the scale default below the prefix scheme's threshold
    #   sweet spot). "prefix": AllPairs/PPJoin prefix filtering
    #   (operators/prefix_join.py) — EXACT for the verify rule, no
    #   recall knob, deterministic; the right choice for high-threshold
    #   configs.
    candidates: str = "lsh"

    # --- skew / scale handling -------------------------------------
    # LSH bands larger than this are capped (deterministic sample) —
    # giant bands (empty files, license headers) otherwise create
    # O(n^2) pair blowup on one key (north_rule: skew handled explicitly).
    max_band_size: int = 256

    # --- misc -------------------------------------------------------
    min_tokens: int = 1           # docs with fewer tokens skip MinHash/LSH
    # drop low-quality files (minified bundles, binary-ish blobs,
    # autogenerated output — functions/quality.py) at ingest, BEFORE
    # hashing/fingerprinting. Off by default: the reference pipeline
    # hashes everything it can decode (ref: app/Commands.java:72-84).
    quality_gate: bool = False

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.num_perm:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}x{self.lsh_rows}) "
                f"must equal num_perm ({self.num_perm})"
            )
        if self.tokenizer not in ("word", "char"):
            raise ValueError(f"unknown tokenizer {self.tokenizer!r}")
        if self.sketch not in ("simhash", "gradsign"):
            raise ValueError(f"unknown sketch family {self.sketch!r}")
        if self.candidates not in ("lsh", "prefix"):
            raise ValueError(f"unknown candidate scheme {self.candidates!r}")
        if self.max_band_size < 1:
            # the salted cap keeps pmod(hash, size) < max_band_size:
            # below 1 it would silently drop every member of a hot band
            raise ValueError(
                f"max_band_size must be >= 1, got {self.max_band_size}"
            )

    # identical config => identical hash => checkpoint reuse is safe
    def config_hash(self) -> str:
        knobs = asdict(self)
        # candidates DOES change which pairs are found (lsh is
        # probabilistic, prefix is not), so the non-default scheme
        # gets a distinct hash; the default is popped so the hashed blob
        # stays byte-identical to the pre-knob format and existing
        # "lsh" checkpoints remain valid.
        if knobs.get("candidates") == "lsh":
            knobs.pop("candidates")
        # quality_gate changes WHICH rows enter the pipeline, so an
        # enabled gate gets a distinct hash; the default-off knob is
        # popped to keep pre-knob checkpoints valid
        if knobs.get("quality_gate") is False:
            knobs.pop("quality_gate")
        blob = json.dumps(knobs, sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]

    @staticmethod
    def radius_from_threshold(threshold: float, bits: int = 64) -> int:
        """Web-path conversion (ref: app/Commands.java:406-410)."""
        return round((1.0 - threshold) * bits)


#: config used by tests / bench / __spark_entry__ unless overridden
DEFAULT_CONFIG = DedupConfig()
