"""The one MinHash signer (dedup.minhash_signatures / incremental.sign_documents):
both hash flavours sign through one Arrow UDF, bit-identical to the JVM
explode/min formula, with a bounded per-worker gram cache. The batch signer
is also checked without Spark against the per-document, per-gram loop it
replaced, over random batches, splits and cache caps."""

from __future__ import annotations

import hashlib
import random
from unittest import mock

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dsm2dtm_spark.operators import dedup as D
from dsm2dtm_spark.operators.incremental import sign_documents

TEXTS = [
    None,
    "",
    "q",
    "ab",
    "abc",
    "Straße ÉCOLE İstanbul",
    "日本語のテキスト 中文 😀🚀 𝔘𝔫𝔦𝔠𝔬𝔡𝔢",
    "the levee held through the flood " * 60,
    "mixed ÄÖÜ ascii 123 ☃ and more ascii text to cross thirty-two bytes",
]


def _docs(spark):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(TEXTS)), "text": TEXTS}),
        "doc_id long, text string",
    )


def _jvm_reference(df, method, n_hashes, shingle_n):
    """The explode/groupBy formula of Spark's own xxhash64 / md5 / min:
    grams from shingle_expr, md5 flavour over non-NULL texts only."""
    if method == "md5":
        df = df.filter(F.col("text").isNotNull())
    grams = df.select("doc_id", F.explode(D.shingle_expr("text", shingle_n)).alias("sh"))
    if method == "md5":
        comps = [F.min(F.md5(F.concat(F.lit(f"{i}:"), "sh"))).alias(f"c{i}") for i in range(n_hashes)]
    else:
        h = F.pmod(F.xxhash64("sh"), F.lit(D.MERSENNE_P))
        comps = []
        for i in range(n_hashes):
            b = (1442695040888963407 + i * 6364136223846793005) % D.MERSENNE_P
            comps.append(F.min((h * (2 * i + 1) + b) % D.MERSENNE_P).alias(f"c{i}"))
    sig = grams.groupBy("doc_id").agg(*comps).select(
        "doc_id", F.array(*[f"c{i}" for i in range(n_hashes)]).alias("signature")
    )
    fp = df.select("doc_id", F.md5("text").alias("fingerprint"))
    return {r.doc_id: (r.fingerprint, list(r.signature)) for r in fp.join(sig, "doc_id").collect()}


class TestXxh64Port:
    def test_matches_spark_xxhash64(self, spark):
        rng = random.Random(20261017)
        pool = "abcxyz 0189" + "éßÖ" + "中文字" + "😀𝔘🚀"
        strs = ["a" * n for n in range(101)]  # every byte length 0..100
        while len(strs) < 1200:
            s = "".join(rng.choice(pool) for _ in range(rng.randint(0, 60)))
            if len(s.encode("utf-8")) <= 100:
                strs.append(s)
        lengths = {len(s.encode("utf-8")) for s in strs}
        assert {3, 4, 7, 8, 31, 32, 33, 63, 64, 100} <= lengths
        got = spark.createDataFrame(pd.DataFrame({"s": strs})).select("s", F.xxhash64("s").alias("h"))
        for r in got.collect():
            assert D._xxh64(r.s.encode("utf-8")) == r.h, r.s


@pytest.mark.parametrize("method", ["xxhash64", "md5"])
class TestSignDocuments:
    @pytest.mark.parametrize("shingle_n", [3, 5])
    def test_matches_jvm_reference(self, spark, method, shingle_n):
        df = _docs(spark)
        want = _jvm_reference(df, method, 16, shingle_n)
        got = {
            r.doc_id: (r.fingerprint, list(r.signature))
            for r in sign_documents(df, n_hashes=16, shingle_n=shingle_n, method=method).collect()
        }
        assert got == want
        # the NULL rule per flavour: md5 drops the row, xxhash64 signs the
        # NULL gram, whose xxhash64 is the seed 42
        if method == "md5":
            assert 0 not in got
        else:
            adds = [(1442695040888963407 + i * 6364136223846793005) % D.MERSENNE_P for i in range(16)]
            null_sig = [(42 * (2 * i + 1) + b) % D.MERSENNE_P for i, b in enumerate(adds)]
            assert got[0] == (None, null_sig)

    def test_rejects_shingle_n_below_one(self, spark, method):
        with pytest.raises(ValueError, match="shingle_n"):
            sign_documents(_docs(spark), shingle_n=0, method=method)

    def test_plan_has_no_exchange_and_no_join(self, spark, method):
        signed = sign_documents(_docs(spark), method=method)
        signed.collect()
        plan = signed._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert "ArrowEvalPython" in plan


@pytest.mark.parametrize("method", ["xxhash64", "md5"])
def test_gram_cache_frees_storage_when_it_clears(monkeypatch, method):
    a = "".join(chr(0x4E00 + i) for i in range(42))  # 40 distinct 3-grams
    b = "".join(chr(0x5E00 + i) for i in range(42))  # 40 more, disjoint
    texts = [a, b, "xy"]
    monkeypatch.setattr(D, "_GRAM_CACHE", {})
    want = D._sign_batch(pd.Series(texts), 16, 3, method).tolist()

    monkeypatch.setattr(D, "_GRAM_CACHE", {})
    monkeypatch.setattr(D, "_GRAM_CACHE_ROWS", 8)
    monkeypatch.setattr(D, "_GRAM_CACHE_MAX", 80)
    got = D._sign_batch(pd.Series(texts[:2]), 16, 3, method).tolist()
    st = D._GRAM_CACHE[(method, 16)]
    assert st["n"] == 80 and len(st["mat"]) == 128  # a and b grew the storage
    # "xy" would cross the cap: the cache clears and its storage shrinks
    got += D._sign_batch(pd.Series(texts[2:]), 16, 3, method).tolist()
    st = D._GRAM_CACHE[(method, 16)]
    assert len(st["mat"]) == 8 and st["n"] == 1 and list(st["idx"]) == ["xy"]
    assert got == want


def _reference_sign(texts, n_hashes, shingle_n, method):
    """The per-document, per-gram loop: each text's distinct grams from
    ``_gram_slices`` (NULL text → the NULL gram), each hashed on its own,
    and per-component minima — md5 as the min of the hexdigests, xxhash64
    as the min of (aᵢ·h + bᵢ) mod P."""
    out = []
    for t in texts:
        grams = {None} if t is None else set(D._gram_slices(t, shingle_n))
        if method == "md5":
            out.append(
                [min(hashlib.md5(f"{i}:{g}".encode("utf-8")).hexdigest() for g in grams) for i in range(n_hashes)]
            )
            continue
        hs = [(42 if g is None else D._xxh64(g.encode("utf-8"))) % D.MERSENNE_P for g in grams]
        out.append(
            [
                min((h * (2 * i + 1) + (1442695040888963407 + i * 6364136223846793005) % D.MERSENNE_P) % D.MERSENNE_P
                for h in hs)
                for i in range(n_hashes)
            ]
        )
    return out


def _sign(texts, method, shingle_n, n_hashes=8):
    return D._sign_batch(pd.Series(texts, dtype=object), n_hashes, shingle_n, method).tolist()


# ASCII, U+0000, astral-plane codepoints (4 utf-8 bytes, one codepoint
# each) and combining marks (a codepoint of their own after the base letter)
_CHARS = st.sampled_from(list("ab ") + ["\0", "é", "ß", "中", "😀", "𝔘", "\u0301", "\u0308"])
_TEXTS = st.one_of(
    st.none(),
    st.just(""),
    st.text(alphabet=_CHARS, max_size=14),
    st.builds(lambda t, k: t * k, st.text(alphabet=_CHARS, min_size=1, max_size=3), st.integers(2, 40)),
)
_BATCHES = st.lists(_TEXTS, max_size=12)
FAST = settings(max_examples=40, deadline=None)


@pytest.mark.parametrize("method", ["xxhash64", "md5"])
@pytest.mark.parametrize("shingle_n", [1, 2, 3, 5])
class TestBatchSigner:
    @FAST
    @given(texts=_BATCHES, cuts=st.lists(st.integers(0, 12), max_size=4))
    def test_matches_per_document_loop(self, method, shingle_n, texts, cuts):
        if method == "md5":  # the md5 flavour drops NULL texts before signing
            texts = [t for t in texts if t is not None]
        want = _reference_sign(texts, 8, shingle_n, method)
        bounds = [0, *sorted(c for c in set(cuts) if c < len(texts)), len(texts)]
        with mock.patch.object(D, "_GRAM_CACHE", {}):
            assert _sign(texts, method, shingle_n) == want
            assert [s for t in texts for s in _sign([t], method, shingle_n)] == want
            assert [s for a, b in zip(bounds, bounds[1:]) for s in _sign(texts[a:b], method, shingle_n)] == want

    @FAST
    @given(stream=st.lists(_BATCHES, min_size=2, max_size=5), cap=st.integers(1, 40))
    def test_cache_resets_midway(self, method, shingle_n, stream, cap):
        if method == "md5":
            stream = [[t for t in texts if t is not None] for texts in stream]
        with mock.patch.multiple(D, _GRAM_CACHE={}, _GRAM_CACHE_MAX=cap, _GRAM_CACHE_ROWS=4):
            for texts in stream:
                assert _sign(texts, method, shingle_n) == _reference_sign(texts, 8, shingle_n, method)
                if texts:
                    batch = {None} if None in texts else set()
                    batch.update(g for t in texts if t is not None for g in D._gram_slices(t, shingle_n))
                    # the bound: the cap, or one batch's distinct grams
                    assert D._GRAM_CACHE[(method, 8)]["n"] <= max(cap, len(batch))


def test_fixed_texts_match_per_document_loop():
    for method in ("xxhash64", "md5"):
        texts = [t for t in TEXTS if t is not None or method == "xxhash64"]
        for shingle_n in (1, 2, 3, 5):
            with mock.patch.object(D, "_GRAM_CACHE", {}):
                assert _sign(texts, method, shingle_n, 16) == _reference_sign(texts, 16, shingle_n, method)


@pytest.mark.parametrize("method", ["xxhash64", "md5"])
def test_batch_over_the_cap_signs_then_next_batch_resets(monkeypatch, method):
    texts = ["".join(chr(0x4E00 + 50 * j + i) for i in range(42)) for j in range(3)]  # 3 × 40 distinct 3-grams
    monkeypatch.setattr(D, "_GRAM_CACHE", {})
    monkeypatch.setattr(D, "_GRAM_CACHE_ROWS", 8)
    monkeypatch.setattr(D, "_GRAM_CACHE_MAX", 80)
    assert _sign(texts, method, 3, 16) == _reference_sign(texts, 16, 3, method)
    cache = D._GRAM_CACHE[(method, 16)]
    assert cache["n"] == 120 and len(cache["mat"]) == 128  # one batch's 120 distinct grams overshoot the cap of 80
    assert _sign(["xy"], method, 3, 16) == _reference_sign(["xy"], 16, 3, method)
    cache = D._GRAM_CACHE[(method, 16)]
    assert len(cache["mat"]) == 8 and cache["n"] == 1 and list(cache["idx"]) == ["xy"]
