"""Hash-family column expressions for dedup/LSH (SURVEY.md §2.E/F).

Design notes for scale:
- All hashes derive from md5 (hex string) so any SQL engine reproduces
  them bit-for-bit — the parity oracle and a future cross-engine
  migration both depend on that.
- MinHash lanes are packed 4-per-md5: lane (g, j) is the j-th 8-hex-char
  slice of md5(g || ':' || shingle). The 32 lanes therefore cost 8 md5
  calls per shingle, not 32. A minhash is the lexicographic MIN of a
  lane over a doc's shingle set — a valid uniform min-hash because md5
  is uniform over fixed-length hex strings.
- Band keys concatenate r adjacent lanes; docs sharing any band bucket
  are candidates, then candidates are verified with exact Jaccard.
  With 16 bands × 2 rows of 32-bit lanes, recall at Jaccard 0.6 is
  1 - (1-0.36)^16 ≈ 1 - 8e-4 (and ≈ 1 - 1e-7 at the corpus's J≥0.8
  near-dup floor); random band collisions are 2^-64: the LSH path is
  effectively exact above threshold while pruning the quadratic pair
  space to bucket-local work.

Performance note: shingles() takes a *materialized token-array
column*, never the tokens(text) expression inline — an expression
referenced inside a generator (explode) is re-evaluated per output
row, which turned an O(rows) split into O(rows × shingles) and cost
15× on the dedup path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from email_etl_spark.functions import built_once

N_GROUPS = 8           # md5 calls per shingle
LANES_PER_GROUP = 4    # 8-hex-char slices per md5
N_LANES = N_GROUPS * LANES_PER_GROUP  # 32 minhash lanes
ROWS_PER_BAND = 2
N_BANDS = N_LANES // ROWS_PER_BAND    # 16 bands
# recall with 16 bands x 2 rows: pairs at J=0.8 (the corpus floor)
# are missed w.p. (1-0.64)^16 ~ 8.5e-8; raise N_GROUPS if a corpus
# ever needs catching pairs near J=0.5 (miss there is ~1.6%).


def shingles(toks: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles (space-joined) from a
    materialized token-array column. Docs shorter than k tokens
    contribute their full token string as a single shingle so they
    still participate in dedup."""
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(k)]
        ),
    )
    return F.array_distinct(F.when(n >= k, grams).otherwise(F.array(F.concat_ws(" ", toks))))


def minhash_lane_exprs(shingle_col: Column) -> list[Column]:
    """Per-shingle lane values; aggregate with MIN grouped by doc to
    get the signature. Kept for the exploded-shingle path; the
    shuffle-free path is with_minhash_sig()."""
    lanes: list[Column] = []
    for g in range(N_GROUPS):
        h = F.md5(F.concat(F.lit(f"{g}:"), shingle_col))
        for j in range(LANES_PER_GROUP):
            lanes.append(F.substring(h, 1 + 8 * j, 8))
    return lanes


def _md5_lane(g: int):
    # closure factories, NOT `lambda s, g=g: ...` — a 2-arg lambda
    # passed to a higher-order function is treated as (element, index)
    def f(s: Column) -> Column:
        return F.md5(F.concat(F.lit(f"{g}:"), s))

    return f


def _hex_slice(j: int):
    def f(h: Column) -> Column:
        return F.substring(h, 1 + 8 * j, 8)

    return f


def with_minhash_sig(df, sh_col: str = "sh"):
    """Append the N_LANES minhash signature columns mh0..mhN to a
    DataFrame with a shingle-array column — computed array-locally per
    row (transform + array_min), so signature construction is
    SHUFFLE-FREE: the only shuffle in an LSH dedup is the band-bucket
    join itself. At 100 TB this beats the exploded-shingle/groupBy
    formulation by two full-data shuffles.

    The md5 arrays are built in their own projection so each of the 4
    lanes per group reuses one md5 array (CollapseProject leaves
    non-cheap aliases with >1 use un-inlined rather than duplicating
    the md5 work)."""
    md5c = df.select(
        "*", *[F.transform(F.col(sh_col), _md5_lane(g)).alias(f"_h{g}") for g in range(N_GROUPS)]
    )
    lanes = [
        F.array_min(F.transform(F.col(f"_h{g}"), _hex_slice(j))).alias(
            f"mh{g * LANES_PER_GROUP + j}"
        )
        for g in range(N_GROUPS)
        for j in range(LANES_PER_GROUP)
    ]
    return md5c.select(*df.columns, *lanes)


def band_key(sig_cols: list[Column], band: int) -> Column:
    """Bucket key for one band: concat of its ROWS_PER_BAND lanes."""
    lo = band * ROWS_PER_BAND
    return F.concat(*sig_cols[lo : lo + ROWS_PER_BAND])


# ---------------------------------------------------------------------------
# Candidate-generation-only signature (r10 optimization round).
#
# The md5 lanes above are an ORACLE-REPRODUCIBLE contract: any query
# whose output depends on the lane values themselves (the
# calibration/recall/integrity family, the persisted band index) must
# keep them, because the DuckDB oracle replays md5 bit-for-bit. But
# for the pure bucket-then-verify queries the lanes never reach an
# output: any uniform hash family yields the same verified pair set
# whenever recall holds (the whole-point property of LSH), and the
# md5 path pays ~60% of its cost in the md5 calls plus hex-string
# materialization (measured 0.251 s vs 0.108 s per signature pass on
# the sf0.1 shingle table). cand_bands swaps the hash for
# native xxhash64 — guide §2.3 "narrower types" applied to the
# shuffle/join keys too: 32-bit integer lanes, one BIGINT bucket key
# per band instead of a 16-char string.
#
# Structure is UNCHANGED (N_LANES lanes, ROWS_PER_BAND per band, so
# the (1-J^r)^b recall curve is identical): band b's key packs two
# 32-bit minima — min over shingles of the high / low halves of
# xxhash64(b, shingle) — into one BIGINT. The two minima select their
# argmin shingles through independent uniform orderings (disjoint
# bits of a well-mixed hash), exactly the independence argument the
# 4-slices-per-md5 scheme already relies on.
#
# The whole bands array is ONE parsed SQL expression, built once per
# process (functions.built_once): composing it from ~100 pyspark
# Column calls costs ~0.5-0.7 s of py4j round-trips PER BUILDER CALL
# (measured: dedup_minhash spent 0.74 s of its 1.3 s steady-state in
# builder() construction), and the flat 32-column lane form also
# analyzes/codegens a much larger Catalyst tree. One F.expr built once
# removes both (dedup_minhash 1.43 s -> 0.67 s best, interleaved A/B,
# identical bucket keys). Memoizing a CONSTANT expression fragment
# holds plan structure, never data.
# ---------------------------------------------------------------------------

CAND_GROUPS = N_LANES // 2  # xxhash64 calls per shingle


@built_once
def cand_bands(sh_col: str = "sh") -> Column:
    """array<struct<band:int,key:bigint>> of candidate band keys for a
    shingle-array column: band i's key = (min hi32)<<32 | (min lo32)
    over xxhash64(i, shingle). The inner transform materializes each
    group's hash array once per row (the lambda argument binds once;
    both minima read the bound value), so hash work is identical to
    the flat-lane form: CAND_GROUPS xxhash64 passes per shingle set."""
    return F.expr(
        f"transform(transform(sequence(0, {CAND_GROUPS - 1}),"
        f" g -> transform({sh_col}, s -> xxhash64(g, s))),"
        f" (arr, i) -> struct(i as band,"
        f" shiftleft(array_min(transform(arr, v -> shiftrightunsigned(v, 32))), 32)"
        f" | array_min(transform(arr, v -> v & 4294967295)) as key))"
    )


def hyperplanes(n_tables: int, n_bits: int, dim: int) -> list[list[list[float]]]:
    """Deterministic ±1 random hyperplanes for sign-LSH, derived from
    md5 so any engine (or oracle) reproduces them: component
    (t, j, k) = +1 iff the low bit of md5("t:j:k")'s first byte is set.
    Computed driver-side at plan-build time — they are plan constants,
    broadcast with the plan, never data-dependent."""
    import hashlib

    planes: list[list[list[float]]] = []
    for t in range(n_tables):
        table = []
        for j in range(n_bits):
            vec = []
            for k in range(dim):
                h = hashlib.md5(f"{t}:{j}:{k}".encode()).digest()
                vec.append(1.0 if h[0] & 1 else -1.0)
            table.append(vec)
        planes.append(table)
    return planes


def jaccard_bps(a: Column, b: Column) -> Column:
    """Exact Jaccard over two (distinct-element) arrays as half-up
    integer basis points: (2*10^4*|A∩B| + |A∪B|) div (2*|A∪B|) over
    BIGINTs — the exact-presentation pair contract (no ROUND over a
    double quotient, the r8/r9 halfway hazard). Empty union -> 0."""
    inter = F.size(F.array_intersect(a, b)).cast("bigint")
    union = F.size(a).cast("bigint") + F.size(b).cast("bigint") - inter
    return F.when(union == 0, F.lit(0).cast("bigint")).otherwise(
        F.floor((F.lit(20000) * inter + union) / (F.lit(2) * union)).cast("bigint")
    )
