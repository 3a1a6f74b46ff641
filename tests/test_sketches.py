"""HyperLogLog + Bloom sketches (llm/sketches.py)."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

import pytest

from sql_data_warehouse_analytics_project_spark.llm import sketches as S


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _terms(spark, words):
    return spark.createDataFrame([(w,) for w in words], "term string")


def _ref_registers(words, p):
    m = 1 << p
    w = 60 - p
    regs: dict = {}
    for word in set(words):  # registers only see the hash → dups no-op
        h = _h60(f"hll|{word}")
        reg, rem = h % m, h >> p
        rho = (w + 1) if rem == 0 else w - rem.bit_length() + 1
        regs[reg] = max(regs.get(reg, 0), rho)
    return regs


def test_hll_registers_match_hand_hash_and_ignore_dups(spark):
    words = [f"t{i}" for i in range(30)] * 3  # dups must not move registers
    got = {r["register"]: r["rho"]
           for r in S.hll_registers(_terms(spark, words), "term",
                                    p=6).collect()}
    assert got == _ref_registers(words, 6)


def test_hll_estimate_accuracy_and_integer_digest(spark):
    n = 5000
    words = [f"word-{i}" for i in range(n)]
    row = S.hll_distinct(_terms(spark, words), "term", p=8).collect()[0]
    # standard error ~1.04/sqrt(256) ≈ 6.5%; allow 3 sigma
    assert abs(row["est"] - n) / n < 0.20
    assert row["m"] == 256 and row["n_present"] + row["zeros"] == 256
    # digest columns replay from the register table
    regs = _ref_registers(words, 8)
    k = max(regs.values())
    s = sum(1 << (k - v) for v in regs.values()) + (256 - len(regs)) * (1 << k)
    assert (row["k_max"], row["s_sum"]) == (k, s)
    assert row["reg_checksum"] == sum(r * v for r, v in regs.items())


def test_hll_small_range_linear_counting_and_empty(spark):
    words = ["a", "b", "c", "a"]
    row = S.hll_distinct(_terms(spark, words), "term", p=8).collect()[0]
    regs = _ref_registers(words, 8)
    zeros = 256 - len(regs)
    assert row["zeros"] == zeros
    assert row["est"] == pytest.approx(
        round(256 * math.log(256 / zeros), 6), abs=1e-9)
    empty = S.hll_distinct(_terms(spark, []).filter(F.lit(False)),
                           "term").collect()[0]
    assert (empty["n_present"], empty["est"]) == (0, 0.0)


def test_hll_merge_is_registerwise_max(spark):
    a = [f"a{i}" for i in range(400)]
    b = [f"b{i}" for i in range(300)] + a[:100]
    whole = {(r["register"], r["rho"])
             for r in S.hll_registers(_terms(spark, a + b), "term",
                                      p=7).collect()}
    merged = S.hll_merge(
        S.hll_registers(_terms(spark, a), "term", p=7),
        S.hll_registers(_terms(spark, b), "term", p=7),
    )
    assert {(r["register"], r["rho"]) for r in merged.collect()} == whole
    with pytest.raises(ValueError):
        S.hll_merge()
    with pytest.raises(ValueError):
        S.hll_registers(_terms(spark, a), "term", p=2)


def test_bloom_no_false_negatives_and_fp_rate(spark):
    inserted = [f"in{i}" for i in range(200)]
    probes = inserted + [f"out{i}" for i in range(400)]
    bloom = S.bloom_build(_terms(spark, inserted), "term",
                          k=4, mbits=4096)
    assert bloom.count() <= 4096
    got = {r["term"]: r["possibly_present"]
           for r in S.bloom_possibly_contains(
               bloom, _terms(spark, probes), "term",
               k=4, mbits=4096).collect()}
    assert all(got[t] for t in inserted)  # soundness: zero false negatives
    fp = sum(got[f"out{i}"] for i in range(400)) / 400
    # 200 keys · k=4 into 4096 bits → theoretical fp ≈ (1-e^-0.195)^4 ≈ 0.1%
    assert fp < 0.05


def test_bloom_contamination_prefilter_sound_vs_exact(spark):
    # eval docs share 5-gram runs with train docs 0/1; train 2 is clean
    mk = lambda i, body: (i, body)
    train = spark.createDataFrame([
        mk(0, "alpha beta gamma delta epsilon zeta"),
        mk(1, "one two three four five six seven"),
        mk(2, "totally unrelated text with no overlap here"),
        mk(3, "tiny"),
    ], "doc_id bigint, text string")
    evals = spark.createDataFrame([
        (100, "xx alpha beta gamma delta epsilon yy"),
        (101, "zz one two three four five qq"),
    ], "doc_id bigint, text string")
    rows = {r["doc_id"]: r for r in S.bloom_contamination_prefilter(
        train, evals, "doc_id", "text", n=5, k=4, mbits=4096).collect()}
    assert rows[0]["possibly_contaminated"] and rows[1]["possibly_contaminated"]
    assert rows[3]["n_shingles"] == 0 and not rows[3]["possibly_contaminated"]
    # doc 2 has no shared shingle; with 4096 bits the ~9 shingles can't
    # realistically all-hit, and soundness only promises one direction —
    # assert the guarantee itself: every exactly-contaminated doc is flagged
    from sql_data_warehouse_analytics_project_spark.llm import dedup
    exact = {r["doc_id"] for r in dedup.contaminated_ids(
        train, evals, "doc_id", "text", n=5).collect()}
    assert exact == {0, 1}
    assert all(rows[d]["possibly_contaminated"] for d in exact)
    # multiplicity convention: doc 0 has 2 shingles of length 5? no — 6
    # tokens → 2 occurrences
    assert rows[0]["n_shingles"] == 2


def test_bloom_duplicated_terms_have_no_false_negatives(spark):
    """Soundness must not depend on the input being distinct: a probe
    term repeated many times, and a training doc repeating an eval
    shingle, are still reported possibly-present."""
    inserted = [f"in{i}" for i in range(50)]
    bloom = S.bloom_build(_terms(spark, inserted * 3), "term", k=4, mbits=1024)
    probes = inserted * 4 + ["out0", "out0"]
    got = S.bloom_possibly_contains(
        bloom, _terms(spark, probes), "term", k=4, mbits=1024
    ).collect()
    assert len(got) == 51  # one row per distinct term
    assert all(r["possibly_present"] for r in got if r["term"] in inserted)

    rep = "alpha beta gamma delta epsilon"
    train = spark.createDataFrame(
        [(0, f"{rep} {rep} {rep}"), (1, "no shared words in this one at all")],
        "doc_id bigint, text string",
    )
    evals = spark.createDataFrame(
        [(100, rep), (101, rep)], "doc_id bigint, text string"
    )
    rows = {r["doc_id"]: r for r in S.bloom_contamination_prefilter(
        train, evals, "doc_id", "text", n=5, k=4, mbits=1024).collect()}
    # 15 tokens -> 11 shingle occurrences, 3 of them the eval shingle
    assert rows[0]["n_shingles"] == 11
    assert rows[0]["n_bloom_hits"] >= 3 and rows[0]["possibly_contaminated"]


def test_bloom_rejects_filters_above_literal_mask_cap(spark):
    too_big = S._BLOOM_EXPR_MAX_BITS + 1
    terms = _terms(spark, ["a"])
    bloom = S.bloom_build(terms, "term", mbits=4096)
    with pytest.raises(ValueError, match="_BLOOM_EXPR_MAX_BITS"):
        S.bloom_build(terms, "term", mbits=too_big)
    with pytest.raises(ValueError, match="_BLOOM_EXPR_MAX_BITS"):
        S.bloom_possibly_contains(bloom, terms, "term", mbits=too_big)
    with pytest.raises(ValueError, match="_BLOOM_EXPR_MAX_BITS"):
        S.bloom_contamination_prefilter(
            terms.withColumnRenamed("term", "text").withColumn("id", F.lit(1)),
            terms.withColumnRenamed("term", "text"),
            "id", mbits=too_big,
        )
