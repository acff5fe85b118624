"""Text-analysis expression library (native Catalyst expressions, no Python UDFs).

Used by the LLM-data-pipeline operators (dedup, language-ID, quality scoring,
token counting) over the `documents` table. Everything here compiles to JVM
expressions inside whole-stage codegen — the hot path never enters Python.

All hashing is md5-based so a DuckDB oracle can reproduce it bit-for-bit.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Deterministic uniform in [0,1) from the first 8 hex chars of md5.
# DuckDB equivalent: (('0x' || substr(md5(x), 1, 8))::BIGINT + 0.5) / 4294967296.0
def hex_uniform(col: Column) -> Column:
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("bigint")
    return (h + F.lit(0.5)) / F.lit(4294967296.0)


# 60-bit integer from md5 (15 hex chars keeps the bigint positive).
# DuckDB equivalent: ('0x' || substr(md5(x), 1, 15))::BIGINT
def md5_int60(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty/whitespace-only text yields an empty
    array (split alone would yield ['']), matching token_count's 0.
    DuckDB: list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '').
    """
    return F.array_remove(F.split(F.trim(text), r"\s+"), "")


def word_shingles(toks: Column, k: int) -> Column:
    """k-gram word shingles as space-joined strings; empty array if < k tokens."""
    n = F.size(toks)
    gen = F.transform(
        F.sequence(F.lit(0), n - F.lit(k)),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.when(n >= k, gen).otherwise(F.array().cast("array<string>"))


def word_shingle_strings(text: Column, k: int) -> Column:
    """Overlapping k-word shingles (space-joined), extracted in ONE linear
    regex pass over whitespace-normalized text. Exactly equals
    word_shingles(tokens(text), k) (pinned in tests) but ~7× faster: the
    token-array slice/concat_ws route evaluates interpreted inside a
    higher-order function, the regex scan stays native."""
    norm = F.regexp_replace(F.trim(text), r"\s+", " ")
    pat = r"(?=((?:\S+ ){" + str(k - 1) + r"}\S+))\S+ ?"
    return F.regexp_extract_all(norm, F.lit(pat), 1)


STOPWORDS_EN = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "for"]


# --- scan-only variants (no array materialization) -------------------------
# Per-doc token statistics as scalar regexp expressions: measured ~5x faster
# end-to-end than the split()+higher-order-function forms at sf0.1, because
# higher-order functions fall out of whole-stage codegen and re-evaluate the
# tokenizer per consumer. Values are identical to the array forms, including
# on empty/whitespace-only text (0 tokens).

def token_count(text: Column) -> Column:
    """Number of whitespace-separated tokens. Equals size(tokens(text));
    0 for empty or whitespace-only text."""
    return F.regexp_count(text, F.lit(r"\S+"))


def nonspace_chars(text: Column) -> Column:
    """Total characters across tokens. Equals sum(length(token))."""
    return F.length(F.regexp_replace(text, r"\s+", ""))


def stopword_token_count(text: Column, stopwords: list[str] | None = None) -> Column:
    """Occurrences (with multiplicity) of stopwords as whole tokens.

    Equals size(filter(tokens(text), t -> t in stopwords)); zero-width
    lookarounds let adjacent stopword tokens both match.
    """
    words = "|".join(re.escape(w) for w in (stopwords or STOPWORDS_EN))
    return F.regexp_count(text, F.lit(r"(?<=^|\s)(" + words + r")(?=\s|$)"))


def strip_html(html: Column) -> Column:
    """Markup-to-text extraction — the WET-style first step of an ingest
    pipeline, as a pure JVM regexp chain the SQL oracle reproduces (no
    lookaround; RE2/Java-compatible):

      1. drop <script>/<style> elements WITH their contents (their text is
         never prose; (?s) makes . span newlines, (?i) case-folds the tag)
      2. drop HTML comments
      3. block-level closers/openers (</p>, <br>, <div>, headings, <li>,
         <tr>) become newlines so words from adjacent blocks don't fuse
      4. every remaining tag is deleted
      5. the predefined entities (&amp; LAST — it may unescape into text
         that looks like an entity prefix) plus &nbsp; and &#39; unescape
      6. runs of spaces/tabs collapse; runs of newlines collapse to one;
         edges trim

    Deliberately NOT a browser: CDATA, conditional comments, and the full
    entity table are out of scope — this is the deterministic, cheap,
    scan-speed extractor a 100 TB ingest wants, not a DOM.
    """
    # script and style run as separate patterns: a backreference (</\1>)
    # would be Java-only — RE2 (the oracle engine) has none
    t = F.regexp_replace(html, r"(?is)<script\b[^>]*>.*?</script\s*>", " ")
    t = F.regexp_replace(t, r"(?is)<style\b[^>]*>.*?</style\s*>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(
        t, r"(?i)</?(p|br|div|h[1-6]|li|tr|table|ul|ol|blockquote)\b[^>]*/?>", "\n"
    )
    t = F.regexp_replace(t, r"(?s)<[^>]+>", " ")
    t = F.regexp_replace(t, r"&nbsp;", " ")
    t = F.regexp_replace(t, r"&lt;", "<")
    t = F.regexp_replace(t, r"&gt;", ">")
    t = F.regexp_replace(t, r"&quot;", "\"")
    t = F.regexp_replace(t, r"&#39;|&apos;", "'")
    t = F.regexp_replace(t, r"&amp;", "&")
    t = F.regexp_replace(t, r"[ \t]+", " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    t = F.regexp_replace(t, r"\n+", "\n")
    return F.regexp_replace(t, r"^\s+|\s+$", "")


def char_entropy(text: Column) -> Column:
    """Shannon entropy (bits/char) of the character distribution — the
    cheap gibberish/boilerplate signal: natural prose sits ~4 bits,
    base64/random blobs near 6, "aaaa..." padding near 0. Quality
    pipelines threshold both tails.

    Row-local SINGLE-PASS form: one fold over the SORTED char array
    carrying (acc, run_length, prev_char) — each run boundary adds the
    finished run's p·log2(p) term, so terms accumulate in sorted-char
    order and the float result is bit-identical across engines and
    partition counts (an unordered SUM over an exploded histogram is
    not, and the earlier per-distinct-char filter+size form re-evaluated
    the split REGEX once per distinct char — interpreted HOFs have no
    subexpression elimination; measured 3.4s -> 2.1s at sf0.1). Zero
    shuffle: the whole expression runs inside the scan projection; cost
    is O(len·log len) for the sort plus a linear fold.
    """
    sc = F.array_sort(F.split(text, ""))
    n = F.length(text)
    term = lambda cnt: (cnt / n) * F.log2(cnt / n)  # noqa: E731
    zero = F.struct(
        F.lit(0.0).alias("acc"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(None).cast("string").alias("prev"),
    )

    def close_run(s):
        # add the finished run's term; a zero run (start of fold) adds none
        return F.when(s.getField("run") > 0, s.getField("acc") + term(s.getField("run"))).otherwise(
            s.getField("acc")
        )

    def step(s, c):
        same = s.getField("prev").eqNullSafe(c)
        return F.struct(
            F.when(same, s.getField("acc")).otherwise(close_run(s)).alias("acc"),
            F.when(same, s.getField("run") + 1).otherwise(F.lit(1).cast("bigint")).alias("run"),
            c.alias("prev"),
        )

    return F.aggregate(sc, zero, step, lambda s: -close_run(s))
