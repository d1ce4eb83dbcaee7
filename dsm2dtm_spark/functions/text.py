"""Text-analysis operators for large-scale training-data curation, all
expressed in JVM-side built-ins (whole-stage codegen; no Python in the hot
path). Each has a matching ANSI-SQL oracle form in __spark_entry__.py.

- token counting: whitespace split (the SQL-portable baseline) plus a
  BPE-ish regex token count
- quality scoring: length / punctuation ratio / stopword ratio features
- language ID: stopword-lexicon voting (deterministic n-gram-free heuristic)
- document fingerprinting: md5 (exact-dedup key) + a 64-bit rolling
  polynomial hash over characters (shingle-friendly)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

# tiny fixed lexicons — deterministic, dependency-free language voting
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "sie"],
    "fr": ["le", "la", "et", "les", "des", "est", "pas", "une", "dans", "que"],
    "es": ["el", "la", "que", "de", "los", "una", "es", "por", "con", "para"],
}


def tokens_ws(text: Column) -> Column:
    """Whitespace tokens of lowercased text (empty strings removed)."""
    return F.filter(F.split(F.lower(text), " "), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens_ws(text))


def _token_stats_udf():
    """Arrow-batched (n_tokens, n_stop) over JVM-lowered text — identical to
    ``size(tokens_ws(t))`` and the stopword filter count: Python
    ``split(" ")`` on a literal space == Spark's ``split(t, " ")`` for every
    input, empties removed the same way, and both counts are exact integers.
    The interpreted ``filter(toks, array_contains(...))`` lambda measured as
    the dominant cost of quality_features at sf1 (r7, guide §4)."""
    stop = set(STOPWORDS["en"])

    @F.pandas_udf("n_tokens int, n_stop int")
    def stats(lowered: pd.Series) -> pd.DataFrame:
        nt, ns = [], []
        for t in lowered:
            if t is None:
                nt.append(None)
                ns.append(None)
                continue
            toks = [x for x in t.split(" ") if x]
            nt.append(len(toks))
            ns.append(sum(1 for x in toks if x in stop))
        return pd.DataFrame({"n_tokens": nt, "n_stop": ns})

    return stats


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: n_chars, n_tokens, avg token length,
    punctuation ratio, stopword(en) ratio, uppercase ratio."""
    t = F.col(text_col)
    n_chars = F.length(t)
    ts = _token_stats_udf()(F.lower(t))
    n_tokens = ts.getField("n_tokens")
    n_stop = ts.getField("n_stop")
    # regexp_count == number of matching chars (single-char patterns), same
    # value as the old length(regexp_replace(...)) forms without building a
    # scrubbed copy of every document (r7)
    punct = F.regexp_count(t, F.lit(r"[^\w\s]"))
    upper = F.regexp_count(t, F.lit("[A-Z]"))
    return df.withColumns(
        {
            "n_chars_q": n_chars.cast("long"),
            "n_tokens": n_tokens.cast("long"),
            "avg_token_len": F.round((n_chars - n_tokens + 1) / n_tokens, 3),
            "punct_ratio": F.round(punct / n_chars, 4),
            "stopword_ratio": F.round(n_stop / n_tokens, 4),
            "upper_ratio": F.round(upper / n_chars, 4),
        }
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language ID: explode tokens, join the lexicon, take the
    language with the most hits (ties → lexicographic, deterministic).
    Shuffle-light: the lexicon join is a broadcast over 40 rows."""
    lex = [(lang, w) for lang, ws in STOPWORDS.items() for w in ws]
    spark = df.sparkSession
    lex_df = spark.createDataFrame(lex, ["lang_cand", "word"])
    toks = df.select(id_col, F.explode(tokens_ws(F.col(text_col))).alias("word"))
    votes = toks.join(F.broadcast(lex_df), on="word").groupBy(id_col, "lang_cand").agg(F.count("*").alias("hits"))
    w = Window.partitionBy(id_col).orderBy(F.desc("hits"), F.asc("lang_cand"))
    best = votes.withColumn("rn", F.row_number().over(w)).filter("rn = 1").select(
        id_col, F.col("lang_cand").alias("lang_pred"), "hits"
    )
    return df.join(best, on=id_col, how="left").fillna({"lang_pred": "und", "hits": 0})


ROLLING_HASH_BITS = 45  # 131·2^45 < 2^53: the accumulator never overflows int64


def rolling_hash64(text: Column) -> Column:
    """Polynomial rolling hash over character codes:
    h = Σ ascii(c_i)·B^(n-1-i) mod 2^45, B = 131. Built from aggregate() over
    the split characters — pure JVM, deterministic, no Python. 45-bit state
    keeps every intermediate below 2^53 (ANSI overflow-safe)."""
    chars = F.split(text, "")
    mask = (1 << ROLLING_HASH_BITS) - 1
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(131) + F.ascii(c)).bitwiseAND(F.lit(mask)),
    )


# PII scrubbing: conservative RE2-compatible patterns (no lookarounds, so
# the DuckDB oracle replays them verbatim). Order matters and is part of
# the contract: emails first (their local parts can contain digit runs),
# then IPs, then phones — each later pattern runs over the already-scrubbed
# text, and the per-kind counts are measured at the same stage so
# count == number of replacements exactly.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b(\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+?\d{1,3}[-. ]?\(?\d{2,4}\)?[-. ]?\d{3,4}[-. ]?\d{3,4}",
}
PII_TOKENS = {"email": "<EMAIL>", "ip": "<IP>", "phone": "<PHONE>"}


def scrub_pii(df: DataFrame, text_col: str = "text", out_col: str = "text_clean") -> DataFrame:
    """Redact emails / IPv4 addresses / phone-like digit runs with sentinel
    tokens — the standard pre-training privacy pass. Pure JVM
    ``regexp_replace``/``regexp_extract_all`` chain (whole-stage codegen,
    no Python); adds ``out_col`` plus exact per-kind counts
    (n_emails/n_ips/n_phones). The phone pattern is deliberately
    conservative (international/US shapes with common separators) — a
    curation pipeline prefers missing an exotic format over mangling
    arithmetic in technical text."""
    cur = F.col(text_col)
    counts = {}
    for kind in ("email", "ip", "phone"):
        pat = PII_PATTERNS[kind]
        counts[kind] = F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
        cur = F.regexp_replace(cur, pat, PII_TOKENS[kind])
    return df.withColumns(
        {
            "n_emails": counts["email"],
            "n_ips": counts["ip"],
            "n_phones": counts["phone"],
            out_col: cur,
        }
    )
