"""Mergeable corpus sketches: HyperLogLog cardinality and Bloom
membership (the count-min frequency sketch lives in ``text.cms_table``).

These are the summaries a 100 TB corpus keeps because the exact answer
is itself too large to keep: "how many distinct tokens/URLs/shingles"
(HLL — a 2^p-register table regardless of cardinality, snapshots merge
by register-wise MAX) and "is this n-gram in the eval set" (Bloom — a
fixed bitmap with ZERO false negatives, so it is a sound prefilter for
decontamination: what it clears never needs the exact join).

Portability discipline (the qd13/qd17 idiom): every hash is the
md5-60-bit integer both engines compute identically, and the HLL
estimate is derived from an INTEGER-exact fold — ``K = max rho`` and
``S = Σ 2^(K−M_j)`` are bigints, and the one float expression at the
end combines exact powers of two with one division, written token-for-
token identically in the SQL twin (basic IEEE-754 ops are deterministic
across JVM and C; ``ln`` in the linear-counting branch follows the
6dp-round convention DSIR established).

HLL reference: Flajolet, Fusy, Gandouet, Meunier 2007; the small-range
linear-counting correction follows Heule, Nunkesser, Hall 2013's
presentation of the classic estimator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import md5_60bit, tokens, word_ngrams

#: md5_60bit yields 60 uniform bits: p go to the register index, the
#: remaining 60-p feed the leading-zero rank rho ∈ [1, 61-p].
_HASH_BITS = 60


def _hll_m(p: int) -> int:
    if not 4 <= p <= 14:
        raise ValueError("HLL precision p must be in [4, 14]")
    return 1 << p


def hll_registers(
    df: DataFrame,
    term_col: str,
    *,
    p: int = 8,
    salt: str = "hll",
) -> DataFrame:
    """Fold a term column into HLL registers: ``(register, rho)`` rows
    holding max-rho per register (absent registers are implicitly 0).

    One pass, one fixed-size shuffle (≤ 2^p groups, map-side combined
    max) — the distinct-counting analogue of ``cms_table``. The low p
    hash bits pick the register; rho is the leading-zero count of the
    remaining ``60-p`` bits plus one, read off ``bin()`` (both engines:
    no leading zeros, so ``bit_length = length(bin(x))`` for x > 0)."""
    m = _hll_m(p)
    w = _HASH_BITS - p
    h = md5_60bit(F.concat(F.lit(f"{salt}|"), F.col(term_col)))
    reg = (h % m).cast("int")
    # h div 2^p via shiftright — `/` would round-trip through double and
    # lose bits above 2^53 (h is 60-bit)
    rem = F.shiftright(h, p)
    rho = F.when(rem == 0, F.lit(w + 1)).otherwise(
        F.lit(w) - F.length(F.bin(rem)) + 1
    ).cast("int")
    return (
        df.select(reg.alias("register"), rho.alias("rho"))
        .groupBy("register")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(*tables: DataFrame) -> DataFrame:
    """Merge register tables from independent corpus slices: register-
    wise MAX — the HLL union property (sketch of A ∪ B). Same reduction
    ``hll_registers`` performs, so merged ≡ whole-corpus sketch."""
    if not tables:
        raise ValueError("need at least one register table")
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("register").agg(F.max("rho").alias("rho"))


def hll_estimate(registers: DataFrame, *, p: int = 8) -> DataFrame:
    """Cardinality estimate from a register table, via an INTEGER-exact
    fold: with ``K = max rho`` and ``M_j`` the register values (0 when
    absent), ``S = Σ_j 2^(K−M_j)`` is an exact bigint (every term a
    power of two; bounded by ``2^p · 2^K ≤ 2^61`` at p ≥ 8 — no float
    sum whose rounding could depend on partition order). The raw
    estimate ``α_m·m²·2^K / S`` then combines exactly-representable
    doubles in one fixed expression; linear counting takes over below
    ``2.5m`` when empty registers remain (``ln`` at the documented
    6dp-round convention).

    Returns one row: ``(m, n_present, zeros, k_max, s_sum,
    reg_checksum, est)`` — the integer columns double as an exact
    digest of the whole register table for oracle comparison."""
    m = _hll_m(p)
    agg = registers.agg(
        F.count(F.lit(1)).alias("n_present"),
        F.coalesce(F.max("rho"), F.lit(0)).alias("k_max"),
        F.coalesce(F.sum(F.col("register").cast("long") * F.col("rho")),
                   F.lit(0)).alias("reg_checksum"),
    )
    # 2^e as CAST(pow(2.0, e) AS BIGINT): powers of two are exact in
    # double and e ≤ 61, so the cast is exact in both engines.
    pow2 = registers.crossJoin(F.broadcast(agg.select("k_max"))).agg(
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), F.col("k_max") - F.col("rho"))
                  .cast("long")),
            F.lit(0),
        ).alias("s_present")
    )
    joined = agg.crossJoin(F.broadcast(pow2))
    zeros = F.lit(m) - F.col("n_present")
    s_sum = (
        F.col("s_present")
        + zeros * F.pow(F.lit(2.0), F.col("k_max")).cast("long")
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    raw = (alpha * m * m * F.pow(F.lit(2.0), F.col("k_max"))
           / F.col("s_sum"))
    lin = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros"))
    return (
        joined.select(
            F.lit(m).alias("m"),
            F.col("n_present").cast("long").alias("n_present"),
            zeros.cast("long").alias("zeros"),
            F.col("k_max").cast("long").alias("k_max"),
            s_sum.alias("s_sum"),
            F.col("reg_checksum").cast("long").alias("reg_checksum"),
        )
        .select(
            "*",
            F.round(
                F.when((raw <= 2.5 * m) & (F.col("zeros") > 0), lin)
                .otherwise(raw),
                6,
            ).alias("est"),
        )
    )


def hll_distinct(
    df: DataFrame, term_col: str, *, p: int = 8, salt: str = "hll"
) -> DataFrame:
    """One-call convenience: registers → estimate."""
    return hll_estimate(hll_registers(df, term_col, p=p, salt=salt), p=p)


# -- Bloom membership --------------------------------------------------------

#: Largest filter membership supports: the bitmap rides the plan as a
#: LITERAL long-array (64 Kbits → 1024 longs). A 10^9-bit filter belongs
#: in a broadcast variable, not an expression tree, and is refused here.
_BLOOM_EXPR_MAX_BITS = 1 << 16


def _bloom_positions(term: Column, k: int, mbits: int, salt: str) -> Column:
    """The k salted bit positions of a term (array<int>)."""
    if k < 1 or mbits < 2:
        raise ValueError("k must be >= 1 and mbits >= 2")
    if mbits > _BLOOM_EXPR_MAX_BITS:
        raise ValueError(
            f"mbits={mbits} exceeds _BLOOM_EXPR_MAX_BITS="
            f"{_BLOOM_EXPR_MAX_BITS} (the literal-bitmask membership cap)"
        )
    return F.array(*[
        (md5_60bit(F.concat(F.lit(f"{salt}{j}|"), term)) % mbits)
        .cast("int")
        for j in range(k)
    ])


def bloom_build(
    df: DataFrame,
    term_col: str,
    *,
    k: int = 4,
    mbits: int = 4096,
    salt: str = "bloom",
) -> DataFrame:
    """Build a Bloom filter over a term column, represented as the
    DISTINCT set-bit positions (``pos`` int rows, ≤ mbits of them
    regardless of corpus size — the information content of the bitmap;
    packing 64/long is mechanical). One pass, one bounded shuffle;
    filters over disjoint slices merge by UNION DISTINCT (bitwise OR)."""
    pos = _bloom_positions(F.col(term_col), k, mbits, salt)
    return df.select(F.explode(pos).alias("pos")).distinct()


def _bloom_mask(bloom: DataFrame, mbits: int) -> Column:
    """Collect the (≤ mbits, by construction) set-bit positions into an
    mbits-bit bitmask literal of signed-64 words. The collect is the
    operator's one bounded action — exactly the manual Bloom-filter
    broadcast of guide §3.2, with the bitmap as plan constant."""
    words = [0] * ((mbits + 63) // 64)
    for r in bloom.select("pos").collect():
        p = int(r["pos"])
        words[p >> 6] |= 1 << (p & 63)
    return F.array(*[
        F.lit(w - (1 << 64) if w >= (1 << 63) else w).cast("long")
        for w in words
    ])


def _bloom_hit_expr(term: Column, mask: Column, k: int, mbits: int,
                    salt: str) -> Column:
    """Pure-expression membership: ALL k salted positions set in the
    literal mask — no explode, no join, no exchange. NULL terms probe
    NULL positions and coalesce to false."""
    pos = _bloom_positions(term, k, mbits, salt)
    return F.coalesce(
        F.forall(
            pos,
            lambda p: F.getbit(
                F.element_at(
                    mask, (p.cast("long") / F.lit(64)).cast("int") + 1
                ),
                (p % 64).cast("int"),
            )
            == 1,
        ),
        F.lit(False),
    )


def bloom_possibly_contains(
    bloom: DataFrame,
    terms: DataFrame,
    term_col: str,
    *,
    k: int = 4,
    mbits: int = 4096,
    salt: str = "bloom",
) -> DataFrame:
    """Membership probe, one row per DISTINCT term: a term is
    possibly-present iff ALL k of its positions are set. No false
    negatives ever (every inserted term set exactly these bits, and
    duplicated probe terms evaluate the same expression); false-positive
    odds fall with mbits/k sizing.

    The bitmap collects into a literal long-array and membership is a
    per-row EXPRESSION (k md5 probes + bit tests): no position explode,
    no join, no exchange beyond the term distinct. Filters above
    ``_BLOOM_EXPR_MAX_BITS`` raise ``ValueError``."""
    mask = _bloom_mask(bloom, mbits)
    return (
        terms.select(F.col(term_col).alias("term"))
        .distinct()
        .select(
            "term",
            _bloom_hit_expr(
                F.col("term"), mask, k, mbits, salt
            ).alias("possibly_present"),
        )
    )


def bloom_contamination_prefilter(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    n: int = 5,
    k: int = 4,
    mbits: int = 4096,
    salt: str = "bloom",
    tokens_col: str | None = None,
) -> DataFrame:
    """Sound decontamination prefilter: flag training docs whose word
    ``n``-gram shingles MAY appear in the eval corpus, using a Bloom
    filter of the eval shingles instead of the exact shingle set.

    Why this exists next to ``dedup.contaminated_ids``: at 100 TB the
    eval-shingle set itself can be 10^8+ strings — too big to broadcast
    — while the Bloom bitmap is a FIXED mbits regardless. Soundness is
    the design point: zero false negatives means every doc this clears
    is PROVABLY clean, and only the (tunably small) possibly-hit
    remainder needs the exact join. Returns per doc:
    ``(id, n_shingles, n_bloom_hits, possibly_contaminated)`` —
    shingles count with multiplicity (the ``contamination_score``
    convention); rows shorter than n tokens report false.

    ``tokens_col`` names a pre-tokenized array column (the
    ``shingle_index`` contract): a pipeline running this prefilter AND
    the exact join over one corpus (qd78's production shape) pins the
    tokenize once instead of re-running the regex — the dominant CPU of
    the pass — in every branch.

    The bitmap is a plan constant, so the per-doc counts are ONE narrow
    map over the token arrays: no position explode, no join, no
    regrouping exchange (``word_ngrams`` of a short/NULL-token doc is the
    empty array, so those docs report ``(0, 0, false)``).
    """
    t = F.col(tokens_col) if tokens_col else tokens(text_col)
    eval_grams = eval_df.select(
        F.explode(word_ngrams(t, n)).alias("shingle")
    ).distinct()
    bloom = bloom_build(eval_grams, "shingle", k=k, mbits=mbits, salt=salt)
    mask = _bloom_mask(bloom, mbits)
    grams = word_ngrams(t, n)
    n_sh = F.size(grams).cast("long")
    n_hit = F.size(
        F.filter(grams, lambda g: _bloom_hit_expr(g, mask, k, mbits, salt))
    ).cast("long")
    return df.select(
        F.col(id_col),
        n_sh.alias("n_shingles"),
        n_hit.alias("n_bloom_hits"),
        (n_hit > 0).alias("possibly_contaminated"),
    )
