"""Tokenizers as native Spark Column expressions (SURVEY.md §2.2, T1-T5).

Semantics re-expressed from the reference's behavior
(``/root/reference/cpp/common/tokenizer.cc``), NOT ported:

- All tokenizers produce **set semantics**: dedupe + sort
  (tokenizer.cc:158-162 sorts + uniques every bag).
- ``dlm``: split on a delimiter set, skipping delimiter runs
  (tokenizer.cc:22-46 with SKIP_NO_ALPHANUMERIC=0, config.h:31 — raw tokens kept).
  The blocking-time delimiter set is ``" \"',\\\t\r\n"`` (tokenizer.cc:268).
- ``wspace``: dlm with a single-space delimiter (tokenizer.cc:90-94).
- ``alphanumeric``: maximal ``[a-zA-Z0-9]+`` runs (tokenizer.cc:97-108).
- ``qgram``: the reference pads with ``q-1`` ``#``/``$`` chars, emits all
  q-char windows, then drops any gram containing a non-alphanumeric char
  (tokenizer.cc:49-86; the alnum filter is unconditional). Because every gram
  touching padding, spaces, or punctuation is dropped, padding and the
  space-collapsing preamble are no-ops on the output: the q-gram set equals
  *all fully-alphanumeric q-char windows of the raw string*. We implement that
  directly with one lookahead regex pass — no per-window lambda, no UDF.
- ``normalize_string``: strategies 0/1/2 (collapse spaces / strip non-alnum /
  both) + lowercase (tokenizer.cc:111-142). Optional — blocking reads raw
  strings (block.cc:153 passes normalize=false), preserving the byte-identical
  ``text`` invariant from BASELINE.json's input_hint.

Everything here is a Column->Column function: Catalyst sees through it, so
filters/pruning around tokenization still push down to the scan.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: blocking-time delimiter set (space, dquote, squote, comma, backslash, tab, CR, LF)
DLM_BLOCKING = " \"',\\\t\r\n"
#: py_entitymatching-style matching-time delimiter set (same chars)
DLM_MATCHING = DLM_BLOCKING


def _delims_to_regex(delims: str) -> str:
    # character class of the delimiters, one-or-more (runs are skipped)
    return "[" + re.escape(delims) + "]+"


def _finish_set(arr: Column) -> Column:
    """set semantics: drop empties, dedupe, sort ascending; NULL input -> []."""
    out = F.array_sort(F.array_distinct(F.filter(arr, lambda t: t != F.lit(""))))
    return F.coalesce(out, F.array().cast("array<string>"))


def tokens_dlm(col: Column | str, delims: str = DLM_BLOCKING) -> Column:
    """T1: delimiter-set tokenizer -> sorted distinct array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return _finish_set(F.split(c, _delims_to_regex(delims)))


def tokens_wspace(col: Column | str) -> Column:
    """T3: single-space tokenizer (runs of spaces skipped)."""
    return tokens_dlm(col, delims=" ")


def tokens_alphanumeric(col: Column | str) -> Column:
    """T4: maximal alphanumeric runs."""
    c = F.col(col) if isinstance(col, str) else col
    return _finish_set(F.regexp_extract_all(c, F.lit("[a-zA-Z0-9]+"), 0))


def _qgram_windows(c: Column, q: int) -> Column:
    """Every fully-alphanumeric q-char window of ``c``, in string order.

    A zero-width lookahead matches at every position, so one
    ``regexp_extract_all`` pass captures overlapping windows; NULL in,
    NULL out."""
    if q < 1:
        raise ValueError("q-grams need q >= 1")
    return F.regexp_extract_all(c, F.lit(f"(?=([a-zA-Z0-9]{{{q}}}))"), 1)


def tokens_qgram(col: Column | str, q: int = 3) -> Column:
    """T2: q-grams = all fully-alphanumeric q-char windows, deduped + sorted.

    Equivalent to the reference's pad+window+alnum-filter (see module doc).
    The windows come from one lookahead regex pass (``_qgram_windows``).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.array_sort(F.array_distinct(_qgram_windows(c, q))),
                      F.array().cast("array<string>"))


def tokens_qgram_encoded(col: Column | str, q: int = 3) -> Column:
    """T2 for count-only consumers: the SAME q-gram set as ``tokens_qgram``,
    each gram packed into a long (grams are fully-alphanumeric ASCII, so
    byte-packing is injective — set cardinalities and intersection sizes are
    identical to the string form; ``"abc"`` packs to ``0x616263``). Int
    arrays keep ``array_intersect`` on its specialized atomic-type fast path:
    no per-gram string hashing per candidate pair (guide §2.3 "narrower
    types"; the feature matrix only ever consumes (o, |a|, |b|) counts, never
    the gram bytes). The packing is one flat ``transform`` over the regex
    windows: each gram's hex bytes read as a base-16 number."""
    if q < 1 or q > 7:
        raise ValueError("encoded q-grams support 1 <= q <= 7")
    c = F.col(col) if isinstance(col, str) else col
    grams = F.transform(_qgram_windows(c, q),
                        lambda g: F.conv(F.hex(g), 16, 10).cast("long"))
    return F.coalesce(F.array_sort(F.array_distinct(grams)),
                      F.array().cast("array<long>"))


def normalize_string(col: Column | str, strategy: int = 0) -> Column:
    """T5/S8: optional normalization; lowercase + strategy-specific stripping.

    strategy 0: collapse space runs; 1: keep only alphanumerics;
    2: keep alnum + single spaces. Trailing space removed (tokenizer.cc:139-140).
    """
    c = F.col(col) if isinstance(col, str) else col
    if strategy == 0:
        out = F.regexp_replace(c, " +", " ")
    elif strategy == 1:
        out = F.regexp_replace(c, "[^a-zA-Z0-9]", "")
    elif strategy == 2:
        out = F.regexp_replace(F.regexp_replace(c, "[^a-zA-Z0-9 ]", ""), " +", " ")
    else:
        raise ValueError(f"unknown normalize strategy {strategy}")
    return F.lower(F.rtrim(out))


#: the reference BPE tokenizer's Chinese punctuation set
#: (``/root/reference/cpp/common/bpe_tokenizer.cc:9-11``) — the only LIVE
#: part of that file (the BPE merge-code application is commented out there)
CJK_PUNCS = "。，？！；：、（）「」“”‘’《》【】—～　"


def replace_cjk_puncs(col: Column | str, repl: str = "#") -> Column:
    """T7 live surface: normalize CJK punctuation to a marker char
    (bpe_tokenizer.cc:13-25 ``replacePuncs``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "[" + re.escape(CJK_PUNCS) + "]", repl)


def tokens_cjk_char(col: Column | str) -> Column:
    """T7 CJK tokenizer: punctuation-normalized per-character token set —
    the practical unit for CJK strings, where whitespace tokenization
    degenerates (the reference's ChineseTable + BPE path targets the same;
    char granularity is its vocab-free equivalent). '#' markers and spaces
    are dropped; set semantics like every other tokenizer here."""
    c = replace_cjk_puncs(col)
    chars = F.split(c, "")
    return _finish_set(F.filter(chars, lambda t: (t != F.lit("#")) & (t != F.lit(" "))))


#: registry used by the rule dispatcher (blocker) and feature generation
def tokenizer(tok: str, settings: str | int | None = None):
    """Return a Column->Column tokenizer for a (tok, settings) descriptor.

    ``tok`` in {dlm, qgm, wspace, alphanumeric}; settings is q for qgm.
    Mirrors the dispatch keys of the reference (block.cc:227-263).
    """
    if tok == "dlm":
        return tokens_dlm
    if tok in ("qgm", "qgram"):
        q = int(settings or 3)
        return lambda c: tokens_qgram(c, q)
    if tok == "wspace":
        return tokens_wspace
    if tok in ("alphanumeric", "alnum"):
        return tokens_alphanumeric
    if tok in ("cjk", "bpe"):
        return tokens_cjk_char
    raise ValueError(f"unknown tokenizer {tok!r}")
