"""Text-analysis expression kit for the training-data pipeline extensions
(BASELINE.json scope: language-ID, quality scoring, token counting, document
fingerprinting).

Most functions here are native Column expressions (JVM-side,
codegen-eligible) that run at full scan speed over a 100 TB ``documents``
table. The exception is :func:`winnow_fingerprint_array`, which is an
Arrow-batched pandas UDF (r11, guide §4.2 — the interpreted higher-order-
function form was the hottest CPU path of its query); heavier analyses
(simhash bit-vote, minhash) live in operators/dedup.py as Arrow-batched
pandas UDFs too.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from .arrow import arrow_udf

# Small embedded marker lists: enough for a deterministic n-gram/stopword
# heuristic. Real pipelines would swap in fastText/CLD3 via a pandas UDF.
EN_MARKERS = ["the", "a", "of", "and", "to", "in", "is"]
ES_MARKERS = ["el", "la", "de", "y", "los", "en", "es"]
STOPWORDS = EN_MARKERS + ["for", "on", "with", "as", "at", "by"]

FP_MOD = 1_000_000_007
FP_BASE = 131


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization of trimmed text -> array<string>."""
    return F.split(F.trim(_c(c)), r"\s+")


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c))


def word_tokens(c: Column | str) -> Column:
    """BPE-ish regex tokenization: letter runs, digit runs, single
    punctuation — the usual pre-tokenizer shape."""
    t = F.trim(_c(c))
    # split on boundaries between classes by first spacing them out
    spaced = F.regexp_replace(t, r"([^A-Za-z0-9\s])", r" $1 ")
    return F.filter(F.split(spaced, r"\s+"), lambda x: x != "")


def _count_in(arr: Column, words: list[str]) -> Column:
    lit_words = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(arr, lambda x: F.array_contains(lit_words, x)))


def lang_scores(c: Column | str) -> tuple[Column, Column]:
    """(en_score, es_score): marker-word hits over lowercased tokens."""
    toks = tokens(F.lower(_c(c)))
    return _count_in(toks, EN_MARKERS), _count_in(toks, ES_MARKERS)


def lang_id(c: Column | str) -> Column:
    """Deterministic marker-based language guess: 'en' | 'es' | 'und'.
    Ties break toward 'en' (more markers usually fire for English)."""
    en, es = lang_scores(c)
    return (
        F.when((en >= es) & (en > 0), F.lit("en"))
        .when(es > en, F.lit("es"))
        .otherwise(F.lit("und"))
    )


def stopword_ratio(c: Column | str) -> Column:
    toks = tokens(F.lower(_c(c)))
    n = F.size(toks)
    return F.when(n > 0, _count_in(toks, STOPWORDS).cast("double") / n).otherwise(F.lit(0.0))


def punct_ratio(c: Column | str) -> Column:
    t = _c(c)
    n = F.length(t)
    n_punct = n - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    return F.when(n > 0, n_punct.cast("double") / n).otherwise(F.lit(0.0))


def avg_word_len(c: Column | str) -> Column:
    toks = tokens(_c(c))
    n = F.size(toks)
    total = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.when(n > 0, total.cast("double") / n).otherwise(F.lit(0.0))


def quality_score(c: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence +
    low punctuation + sane word length. Deterministic, SQL-expressible —
    the shape of a Gopher/C4-style quality filter."""
    n_tok = token_count(c).cast("double")
    len_ok = F.when((n_tok >= 10) & (n_tok <= 1000), 1.0).otherwise(0.0)
    stop_ok = F.when(stopword_ratio(c) >= 0.05, 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(c) <= 0.2, 1.0).otherwise(0.0)
    wl = avg_word_len(c)
    wl_ok = F.when((wl >= 2) & (wl <= 12), 1.0).otherwise(0.0)
    return (len_ok + stop_ok + punct_ok + wl_ok) / F.lit(4.0)


def word_hashes(c: Column | str) -> Column:
    """Cheap deterministic per-word code: len*31 + first-char codepoint —
    portable to any SQL engine (the oracle replicates it)."""
    return F.transform(
        tokens(_c(c)),
        lambda w: (F.length(w) * 31 + F.coalesce(F.ascii(F.substring(w, 1, 1)), F.lit(0))).cast(
            "long"
        ),
    )


def fingerprint(c: Column | str) -> Column:
    """Rolling polynomial hash over word codes, mod 1e9+7 (document
    fingerprint for cheap change detection / exact-ish dedup)."""
    return F.aggregate(
        word_hashes(c),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * FP_BASE + x) % FP_MOD,
    )


def winnow_fingerprints(docs, id_col: str, text_col: str, k: int = 3, w: int = 4):
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, MOSS):
    per document, hash every word ``k``-gram, slide a window of ``w``
    consecutive hashes, and keep the window minimum — rightmost position on
    hash ties, the published tie rule. Guarantees every shared run of
    ``w + k - 1`` words between two documents shares >= 1 fingerprint while
    storing only ~``2/(w+1)`` of all gram hashes — the local-substring
    analogue of the global minhash family in ``operators/dedup.py``.

    Returns ``(doc_id, fp)`` distinct selected fingerprints, where ``fp`` is
    ``md5(gram) || 9-digit inverted position`` — the hash plus which window
    slot it was chosen at (inverted so a plain ``min`` realizes the
    rightmost-tie rule; engines agree on string order of hex+digits).

    Scale shape (round 4): winnowing is ROW-LOCAL — the selection for a
    document depends on nothing outside it — so the whole computation now
    runs inside one projection: indexed ``transform`` builds the
    position-tagged gram keys, ``array_min`` over ``slice`` realizes each
    window's minimum, ``array_distinct``+``array_sort`` finish the set.
    NO shuffle, NO window sort, NO distinct exchange (the previous form
    paid a doc-keyed window sort over every gram row — ~1.5M rows at
    sf0.1, 8.3 s warm; this form is a pure map at scan rate). Docs with
    fewer than ``w`` full windows yield no fingerprints, matching the
    windowed form. The exploded return shape is unchanged for callers.
    """
    arr = winnow_fingerprint_array(docs, id_col, text_col, k=k, w=w)
    return arr.select("doc_id", F.explode("fps").alias("fp"))


def winnow_fingerprint_array(
    docs, id_col: str, text_col: str, k: int = 3, w: int = 4
):
    """Row-local winnowing core: one row per document with the sorted
    distinct fingerprint array (see :func:`winnow_fingerprints`). Zero
    shuffles — callers that aggregate per document (count, digest) can
    stay map-only end to end.

    r11 opt (guide §4.2): the r4-r10 form built the keys and window
    minima with JVM higher-order functions — ``transform``'s per-element
    lambda runs INTERPRETED, and md5-of-slice per gram plus array_min per
    window measured ~2.7 s warm over the sf0.1 corpus, the whole query's
    cost. One Arrow-batched pandas UDF computes the identical values
    (same md5-hex + 9-digit inverted-position keys, same rightmost-tie
    window minima via numpy sliding-window min, same distinct+sort via
    np.unique; hex+digits are ASCII so numpy's code-point order equals
    Spark's UTF8 binary order). Tokenization is Python ``str.split()``,
    the precedent every minhash/simhash UDF in operators/dedup.py uses.
    EXACT divergence from the old ``tokens()`` expression
    (``split(trim(x), '\\s+')``), for the record (ADVICE r11): Java
    ``\\s`` is ASCII-only while ``str.split()`` also splits on Unicode
    whitespace (NBSP, ideographic space, ...), and ``F.trim`` strips only
    ' ' so text with a LEADING tab/newline previously produced an empty
    first token (and thus different grams). Identical on any corpus whose
    inter-token whitespace is ASCII and whose docs don't start with
    non-space whitespace — true of this corpus (oracle hash parity at all
    three SFs). Still a pure map: the plan stays zero-exchange
    (plan-asserted in tests/test_plans.py)."""
    @arrow_udf("array<string>")
    def _winnow(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = t.split() if t else []
            n = len(toks)
            if n < k:
                out.append(None)
                continue
            keys = np.array(
                [
                    hashlib.md5(
                        " ".join(toks[i : i + k]).encode("utf-8")
                    ).hexdigest()
                    + str(100000000 - (i + 1)).zfill(9)
                    for i in range(n - k + 1)
                ],
                dtype="U41",
            )
            if keys.size < w:
                out.append(None)
                continue
            # numpy has no minimum ufunc for string dtypes: rank the keys
            # (np.unique sorts lexicographically = Spark's UTF8 order for
            # this ASCII alphabet) and window-min the integer ranks
            uniq, inv = np.unique(keys, return_inverse=True)
            sel = np.unique(
                np.lib.stride_tricks.sliding_window_view(inv, w).min(axis=1)
            )
            out.append(uniq[sel].tolist())
        return pd.Series(out)

    return (
        docs.select(F.col(id_col).alias("doc_id"), _winnow(F.col(text_col)).alias("fps"))
        .where(F.col("fps").isNotNull())
    )


def tfidf_terms(docs, id_col: str, text_col: str):
    """(doc, term, tf, df, tfidf) over whitespace tokens, all-DataFrame:

    - tf: one shuffle on (doc, term) — map-side partial counts first;
    - df + N: one aggregation over the (doc, term) frame per term (already
      distinct, so no count-distinct expansion) and one scalar N broadcast.

    At 100 TB the token explode is the big intermediate (|tokens| rows);
    it never materializes — both aggregations consume it streaming. Score
    is tf * ln(N/df) with one double division then one multiply, the same
    association the oracle uses.
    """
    from pyspark.sql import functions as F

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.select(F.countDistinct(id_col).alias("__n"))
    return (
        tf.join(df, on="term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.col("tf") * F.log(F.col("__n").cast("double") / F.col("df"))).alias("tfidf"),
        )
    )


def text_features_udf():
    """Arrow-batched (lang_pred, n_tokens, quality) scorer — the throughput
    tier of :func:`lang_id` + :func:`token_count` + :func:`quality_score`.

    The Column-expression tier above is codegen-eligible but Spark
    evaluates higher-order-function lambdas *interpreted* (SURVEY §7.4), so
    composite scoring costs ~1 ms/doc; this kernel computes the identical
    values per Arrow batch in plain Python sets/loops (~20 µs/doc). Exact
    value parity with the expression tier (and the SQL oracles) holds
    because every intermediate is integer arithmetic plus one IEEE double
    division, and the character classes mirror the ASCII `\\w`/`\\s` the
    JVM/RE2 regexes use. Use for composed pipelines; keep the expression
    tier where a query wants pure-JVM plans.
    """
    import string

    word_chars = frozenset(string.ascii_letters + string.digits + "_")
    ws_chars = frozenset(" \t\n\x0b\x0c\r")
    en, es, stops = frozenset(EN_MARKERS), frozenset(ES_MARKERS), frozenset(STOPWORDS)

    @arrow_udf("lang_pred string, n_tokens long, quality double")
    def _text_features(texts):
        import pandas as pd

        langs, ns, quals = [], [], []
        for t in texts:
            t = (t or "").strip()
            toks = t.split()
            n = len(toks)
            lower = t.lower().split()
            en_n = sum(1 for w in lower if w in en)
            es_n = sum(1 for w in lower if w in es)
            langs.append("en" if en_n >= es_n and en_n > 0 else ("es" if es_n > en_n else "und"))
            ns.append(n)
            if n == 0:
                # empty text: len_ok=0, stop_ok=0, punct_ok=1 (ratio 0.0),
                # wl_ok=0 — matches the expression tier's zero-guards
                quals.append(0.25)
                continue
            stop_n = sum(1 for w in lower if w in stops)
            punct_n = sum(1 for ch in t if ch not in word_chars and ch not in ws_chars)
            wl = sum(len(w) for w in toks) / n
            q = (
                (1.0 if 10 <= n <= 1000 else 0.0)
                + (1.0 if stop_n / n >= 0.05 else 0.0)
                + (1.0 if (punct_n / len(t) if len(t) else 0.0) <= 0.2 else 0.0)
                + (1.0 if 2 <= wl <= 12 else 0.0)
            ) / 4.0
            quals.append(q)
        return pd.DataFrame({"lang_pred": langs, "n_tokens": ns, "quality": quals})

    return _text_features


def char_entropy_udf():
    """Arrow-batched per-document character entropy — the 100 TB hot path
    for ``text_entropy_filter``'s scoring step.

    The oracle-parity tier explodes to one row per character before the
    (doc, char) partial aggregation: exact and combiner-collapsed, but the
    explode inflates the scan ~300x in row count before the combiners see
    it. This kernel computes the identical ``(n_chars_counted, entropy)``
    per Arrow batch with one ``collections.Counter`` pass per document — a
    narrow map stage, NO shuffle at all, which is the correct shape when
    the corpus is petabytes. Values agree with the expression tier at the
    rounded (4-decimal) precision both tiers emit: each sums at most
    |alphabet| float64 terms, so the two orderings differ by ~1e-15 before
    a 1e-4 rounding (tier equivalence asserted in tests).
    """
    import math
    from collections import Counter

    @arrow_udf("n_chars_counted long, entropy double")
    def _ent(texts):
        import pandas as pd

        ns, ents = [], []
        for t in texts:
            t = t or ""
            n = len(t)
            if n == 0:
                ns.append(0)
                ents.append(None)
                continue
            s = sum(c * math.log2(c) for c in Counter(t).values())
            ns.append(n)
            ents.append(round(math.log2(n) - s / n, 4))
        return pd.DataFrame({"n_chars_counted": ns, "entropy": ents})

    return _ent
