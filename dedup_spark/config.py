"""Pipeline configuration (the reference's Mode/maxSize/maxMemory knobs —
/root/reference/writer.go:43-70, 132-270 — generalized for the near-dup
pipeline)."""

from __future__ import annotations

from dataclasses import dataclass, field

MERSENNE31 = (1 << 31) - 1  # modulus for MinHash universal hashing; keeps
# a*x+b inside int64 so the same arithmetic is expressible in ANSI SQL
# (DuckDB oracle) and numpy without 128-bit math.


@dataclass(frozen=True)
class DedupConfig:
    # chunking (reference knobs)
    mode: str = "dynamic"          # fixed | dynamic | entropy (writer.go:43-70)
    max_size: int = 1024           # max block size (writer.go:37 MinBlockSize=512 floor)
    hash_name: str = "sha1"        # per-block hash (README.md:110-115)
    max_backref: int | None = None # format-2 bounded window (writer.go:541-543)

    # signatures
    shingle_w: int = 3             # chunk-hash w-grams
    num_perm: int = 64             # MinHash permutations (K). Sized to what
                                   # banding consumes (bands*band_rows):
                                   # permutations beyond that are pure dead
                                   # weight — kernel CPU + 8 bytes/row/perm
                                   # of shuffle+checkpoint — since the exact
                                   # verify stage uses shingle sketches, not
                                   # minhash agreement.
    seed: int = 1315423911         # coefficient seed

    # LSH
    bands: int = 32                # b; with r=2: P(catch | J=0.5) = 1-0.75^32
                                   # ≈ 0.9999 — well above the 0.99 recall gate
                                   # (expected misses ~1 in 10^4 borderline
                                   # pairs); the band explode+shuffle is the
                                   # dominant 100 TB shuffle and scales with b,
                                   # so b=64 (miss 1e-8) buys nothing but 2x
                                   # shuffle volume. False candidates are
                                   # killed by the exact-Jaccard verify stage.
    band_rows: int = 2             # r; bands*band_rows <= num_perm (uses the
                                   # first b*r of the K permutations)
    max_bucket: int = 256          # direct pair-gen cap per band bucket; larger
                                   # buckets split into ceil(size/max_bucket)
                                   # salted blocks (operators/lsh.py skew ladder)
    salt: int = 8                  # salted pair-gen ceiling = max_bucket*salt;
                                   # buckets beyond it are dropped with logged
                                   # metrics (true boilerplate mega-buckets)

    # verification
    max_shingles: int = 1024       # bottom-k sketch of the distinct-shingle
                                   # set used for exact-Jaccard verify; k
                                   # smallest hashes (deterministic, equal to
                                   # the full set for files under k shingles;
                                   # the oracle applies the identical rule).
                                   # Bounds the per-pair verify payload at
                                   # scale: without it a 1 MB file ships
                                   # ~30 KB of shingles to EVERY candidate
                                   # pair it appears in.
    jaccard_threshold: float = 0.5
    simhash_hamming_max: int = 64  # prefilter on 64-bit simhash; 64 = off.
                                   # On small shingle sets simhash variance is
                                   # high enough that an aggressive gate costs
                                   # recall (measured: J≈0.55 pairs at hamming
                                   # >12 with ~14 shingles), so the exact-
                                   # Jaccard verify is the default decider and
                                   # the hamming gate is an opt-in prefilter
                                   # for large-corpus runs.
    min_lcs: int = 0               # optional suffix-array LCS gate (0 = off)

    @property
    def rows_per_band(self) -> int:
        # ValueError, not assert: asserts vanish under `python -O`, and an
        # out-of-range band slice silently hashes empty slices (every file
        # collides in those bands)
        if self.bands * self.band_rows > self.num_perm:
            raise ValueError(
                f"bands*band_rows ({self.bands}*{self.band_rows}) exceeds "
                f"num_perm ({self.num_perm})"
            )
        return self.band_rows


def minhash_coeffs(k: int, seed: int):
    """Deterministic (a, b) coefficient vectors for K permutations over
    the Mersenne-31 field."""
    import random

    rng = random.Random(seed)
    a = [rng.randrange(1, MERSENNE31) for _ in range(k)]
    b = [rng.randrange(0, MERSENNE31) for _ in range(k)]
    return a, b
