"""Per-turn text processing core — the exact semantics of the reference's
text-parser pipeline, re-implemented as pure functions that run inside the
Arrow-batched pandas UDF (``parse.py``) and inside the test oracle.

Replicated reference behavior (file:line cites into /root/reference):

* whitespace split — ``arekit/common/utils.py:22-28`` (``str.split()``).
* bracket entity detector — ``contrib/utils/pipelines/items/text/entities_default.py:14-17``:
  a whole whitespace token ``[Value]`` becomes an Entity; value lowercased by
  the Entity ctor (``common/entities/base.py:7``).
* tokenizer FSM — ``contrib/utils/pipelines/items/text/tokenizer.py:60-105``:
  URL check first (scheme+netloc+path all non-empty,
  ``processing/text/tokens.py:100-106``); then a char scan where a mapped
  punctuation char is a 1-char token (NEW_LINE dropped), a digit run starting
  at scan position becomes ``<[NUMBER]>``, and a word run consumes every
  following char that is not a mapped char — except ``-`` which is consumed
  (so in-word dashes and digits stay inside the word).
* frame variant scan — ``contrib/utils/pipelines/items/text/frames.py:47-86``:
  greedy left-to-right, candidate span lengths iterate over
  ``reversed(range(1, max_variant_len))`` — i.e. ``max_variant_len-1 .. 1``;
  variants of exactly the maximum length never match (reference quirk,
  replicated deliberately); spans must consist of str terms only; a hit
  replaces the span with ONE frame term. Lemmatization seam
  (``frames_lemmatized.py:21-24``) is a deterministic lowercase normalizer
  here (Mystem is RU-only, non-hermetic, and out of sandbox scope).
* negation — ``frames_negation.py:14-28``: a frame term is negated iff the
  immediately preceding output term is a negation word (locale-mods seam,
  ``processing/languages/ru/mods.py:12-13``).
"""

from __future__ import annotations

import re
from typing import NamedTuple

# term kinds
W, T, E, F = "w", "t", "e", "f"

# char -> token value, ``processing/text/tokens.py:32-52`` (NEW_LINE handled
# separately: dropped by the tokenizer at ``tokenizer.py:86-88``).
TOKEN_MAP = {
    ",": "<[,]>", ".": "<[.]>", "…": "<[…]>", ":": "<[:]>", ";": "<[;]>",
    "-": "<[-]>", "—": "<[long_dash]>", "?": "<[?]>", "!": "<[!]>",
    "(": "<[OPEN_BRACKET]>", ")": "<[CLOSED_BRACKET]>",
    "{": "<[OPEN_BRACKET]>", "}": "<[CLOSED_BRACKET]>",
    "[": "<[OPEN_BRACKET]>", "]": "<[CLOSED_BRACKET]>",
    "«": "<[QUOTE]>", "»": "<[QUOTE]>", '"': "<[QUOTE]>",
}
NUMBER_TOKEN = "<[NUMBER]>"
URL_TOKEN = "<[URL]>"

_TOK_CHARS = ",.…:;—?!(){}\\[\\]«»\"\n\\-"       # all mapped chars (incl dash, \n)
_TOK_NODASH = ",.…:;—?!(){}\\[\\]«»\"\n"          # mapped chars except dash
# one regex pass == the reference's char FSM (tokenizer.py:76-105):
#   word run: first char neither digit nor mapped; following chars anything
#             except mapped-non-dash chars (digits and dashes continue a word)
#   digit run at scan position -> NUMBER
#   single mapped char -> token
_FSM = re.compile(
    "([^0-9" + _TOK_CHARS + "][^" + _TOK_NODASH + "]*)"
    "|([0-9]+)"
    "|([" + _TOK_CHARS + "])"
)

class Term(NamedTuple):
    kind: str     # w | t | e | f
    text: str     # word (raw) | token value | entity value (lower) | frame_id
    negated: bool = False
    aux: str = ""  # frames only: the matched variant phrase
                   # (``FrameVariant.get_value``, frames/variants/base.py:14-15)


def is_url(word: str) -> bool:
    """``Tokens.try_create_url`` (tokens.py:100-106): urlparse-based; scheme,
    netloc and path must all be non-empty. The ``://`` prefilter only skips
    words urlparse would reject anyway (non-empty netloc needs ``scheme://``)."""
    if "://" not in word:
        return False
    from urllib.parse import urlparse
    r = urlparse(word)
    return bool(r.scheme and r.netloc and r.path)


def split_word(word: str) -> list[Term]:
    """Tokenizer FSM over one whitespace token (tokenizer.py:76-105)."""
    if is_url(word):
        return [Term(T, URL_TOKEN)]
    out: list[Term] = []
    for m in _FSM.finditer(word):
        w_run, d_run, tok = m.group(1), m.group(2), m.group(3)
        if w_run is not None:
            out.append(Term(W, w_run))
        elif d_run is not None:
            out.append(Term(T, NUMBER_TOKEN))
        elif tok != "\n":
            out.append(Term(T, TOKEN_MAP[tok]))
    return out


def tokenize_turn(text: str) -> list[Term]:
    """T1 (whitespace split) + S8 (entity detect) + T2/T8 (tokenizer).

    Fast path (identical output): a purely-alphabetic word contains no
    digits and no mapped punctuation, so the FSM would emit it unchanged as
    one word term — skip the regex entirely (~80% of natural tokens)."""
    terms: list[Term] = []
    extend = terms.extend
    cache = _SPLIT_CACHE
    for word in text.split():
        entry = cache.get(word)
        if entry is None:
            if len(cache) >= _SPLIT_CACHE_MAX:
                cache.clear()
            if word.isalpha():
                entry = (Term(W, word),)
            elif len(word) > 2 and word[0] == "[" and word[-1] == "]":
                entry = (Term(E, word[1:-1].lower()),)
            else:
                entry = tuple(split_word(word))
            cache[word] = entry
        extend(entry)
    return terms


# Unified word -> Term-tuple memo for ``tokenize_turn`` (identical output:
# Terms are immutable, and all three branches — alpha word, bracket entity,
# FSM split — are pure functions of the word). Natural token distributions
# are Zipfian, so tokens repeat constantly; one dict probe replaces the
# isalpha/bracket tests AND the FSM regex on every repeat (profiled ~40% of
# per-turn parse CPU went to the FSM, most of it on repeats). Per-executor-
# process dict, bounded: distinct tokens are unbounded at corpus scale
# (URLs, typos), so the cache clears when full rather than growing with the
# corpus. (A lemma cache in scan_frames measured neutral — dict overhead
# ~= str.lower() — and was dropped.)
_SPLIT_CACHE: dict[str, tuple[Term, ...]] = {}
_SPLIT_CACHE_MAX = 1 << 17


def scan_frames(terms: list[Term], variants: dict[str, str],
                max_variant_len: int,
                negation_words: frozenset[str],
                first_tokens: frozenset[str] | None = None,
                lemma_fn=None) -> list[Term]:
    """T4/T5 frame scan + T6 negation over a tokenized term list.

    ``variants`` maps lowercase phrase -> frame_id. Candidate span lengths are
    ``max_variant_len-1 .. 1`` (frames.py:56-60 quirk). Only runs when
    max_variant_len >= 2, like the reference (max==1 would loop forever there).

    ``first_tokens`` is the precomputed first-token set of the lexicon
    (``first_token_index``) — pass it in from the caller that owns the
    lexicon; recomputed here only as a fallback. ``lemma_fn`` is the T5
    lemmatization seam (default: lowercase normalizer; see
    ``resolve_plugin``).
    """
    if not variants or max_variant_len < 2:
        return terms
    if first_tokens is None:
        first_tokens = first_token_index(variants)
    out: list[Term] = []
    start = 0
    n = len(terms)
    # the full lemma list is built LAZILY, on the first candidate position:
    # most turns contain no lexicon first-token at all, and for them the
    # whole-list allocation (profiled ~15% of parse CPU) never happens —
    # identical output, since non-candidate positions only ever need their
    # own lemma, computed inline below
    lemmas: list[str | None] | None = None
    while start < n:
        if lemmas is None:
            t = terms[start]
            if t.kind != W or (
                    (t.text.lower() if lemma_fn is None
                     else lemma_fn(t.text)) not in first_tokens):
                out.append(t)
                start += 1
                continue
            if lemma_fn is None:
                lemmas = [t.text.lower() if t.kind == W else None
                          for t in terms]
            else:
                lemmas = [lemma_fn(t.text) if t.kind == W else None
                          for t in terms]
        if lemmas[start] is None or lemmas[start] not in first_tokens:
            out.append(terms[start])
            start += 1
            continue
        hit_id, hit_end = None, start
        for size in range(max_variant_len - 1, 0, -1):
            last = start + size - 1
            if last >= n:
                continue
            if any(lemmas[i] is None for i in range(start, last + 1)):
                continue
            phrase = " ".join(lemmas[start:last + 1])
            fid = variants.get(phrase)
            if fid is not None:
                hit_id, hit_end, hit_phrase = fid, last, phrase
                break
        if hit_id is not None:
            prev = out[-1] if out else None
            negated = (prev is not None and prev.kind == W
                       and prev.text.lower() in negation_words)
            out.append(Term(F, hit_id, negated, hit_phrase))
            start = hit_end + 1
        else:
            out.append(terms[start])
            start += 1
    return out


def first_token_index(variants: dict[str, str]) -> frozenset[str]:
    """Pure optimization (identical output): any hit at ``start`` needs a
    variant whose FIRST token equals lemmas[start] — one set lookup skips
    the size loop for the overwhelmingly common non-candidate positions.
    Computed ONCE by the owner of the lexicon and passed down (the round-1
    ``id(dict)``-keyed cache was an address-reuse hazard: a different dict
    allocated at a GC'd address would silently reuse a stale set)."""
    return frozenset(v.split(" ", 1)[0] for v in variants)


# ---------------------------------------------------- plug-in seam (T5)
# The reference's ``LemmasBasedFrameVariantsParser`` delegates to a Stemmer
# (``common/text/stemmer.py:1-16``; Mystem backend
# ``contrib/utils/processing/lemmatization/mystem.py:6-51`` — an external
# process, "significantly slow" per the reference's own note), and its
# cased formatter to a POS tagger over the same process. The engine keeps
# one seam for both per-executor plug-ins: a NAMED backend resolved lazily
# and memoized PER PROCESS (the name ships in the task closure, the
# possibly non-picklable backend object never does).

_PLUGINS: dict = {}


def resolve_plugin(name: str):
    """The plug-in called ``name``: the built-in lemmatizer ``"lower"``
    (the deterministic lowercase normalizer), the built-in POS tagger
    ``"default"`` (``formatters.default_pos_tagger``), or a dotted
    ``"package.module:factory"`` path whose ``factory()`` runs once per
    process, imported in whichever process asks (the module ships via
    --py-files like any code). A driver-side registry would never reach
    the Python workers Spark launches, so there is none."""
    fn = _PLUGINS.get(name)
    if fn is None:
        if name == "lower":
            fn = str.lower
        elif name == "default":
            from .formatters import default_pos_tagger
            fn = default_pos_tagger
        elif ":" in name:
            import importlib
            mod, attr = name.split(":", 1)
            fn = getattr(importlib.import_module(mod), attr)()
        else:
            raise KeyError(f"unknown plug-in: {name!r}")
        _PLUGINS[name] = fn
    return fn


def parse_turn(text: str, variants: dict[str, str], max_variant_len: int,
               negation_words: frozenset[str],
               first_tokens: frozenset[str] | None = None,
               lemma_fn=None) -> list[Term]:
    """Full per-turn parse: the reference text-parser pipeline
    [entities -> tokenizer -> lemma-frames -> negation] on one turn."""
    return scan_frames(tokenize_turn(text), variants, max_variant_len,
                       negation_words, first_tokens, lemma_fn)
