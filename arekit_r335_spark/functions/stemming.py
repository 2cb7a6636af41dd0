"""Pure-Python Porter stemmer — a REAL lemmatizer backend for the T5 seam.

The reference lemmatizes through a ``Stemmer`` seam
(``/root/reference/arekit/common/text/stemmer.py:1-16``) whose production
backend is the external Mystem process
(``contrib/utils/processing/lemmatization/mystem.py:6-51`` — RU-only,
non-hermetic, and "significantly slow" per the reference's own note at
``frames_lemmatized.py:28-29``). This module provides the EN analog as an
in-process backend: the classic Porter (1980) suffix-stripping algorithm,
implemented from the published algorithm description — deterministic, no
external processes, safe to construct once per executor.

Wire-up (the engine's per-executor seam, ``operators/textproc.py:204-226``):

    PipelineConfig(lemmatizer="arekit_r335_spark.functions.stemming:porter_factory")

The dotted-path form resolves lazily in whichever process asks, so cluster
executors import this module themselves (shipped via --py-files like any
code); nothing non-picklable ever enters the task closure.
"""

from __future__ import annotations

from functools import lru_cache

_VOWELS = frozenset("aeiou")


def _is_cons(word: str, i: int) -> bool:
    c = word[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """Porter's m: the number of vowel->consonant transitions ([C](VC)^m[V])."""
    m = 0
    prev_vowel = False
    for i in range(len(stem)):
        vowel = not _is_cons(stem, i)
        if prev_vowel and not vowel:
            m += 1
        prev_vowel = vowel
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _double_cons(word: str) -> bool:
    return (len(word) >= 2 and word[-1] == word[-2]
            and _is_cons(word, len(word) - 1))


def _cvc(word: str) -> bool:
    """*o condition: ends cvc where the final c is not w, x or y."""
    if len(word) < 3:
        return False
    return (_is_cons(word, len(word) - 3)
            and not _is_cons(word, len(word) - 2)
            and _is_cons(word, len(word) - 1)
            and word[-1] not in "wxy")


def _replace(word: str, suffix: str, repl: str, min_m: int) -> str | None:
    """word = stem+suffix and m(stem) > min_m -> stem+repl, else None."""
    if not word.endswith(suffix):
        return None
    stem = word[:-len(suffix)]
    if _measure(stem) > min_m:
        return stem + repl
    return word   # suffix matched but condition failed: rule consumed, no-op


_STEP2 = (("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
          ("anci", "ance"), ("izer", "ize"), ("abli", "able"),
          ("alli", "al"), ("entli", "ent"), ("eli", "e"), ("ousli", "ous"),
          ("ization", "ize"), ("ation", "ate"), ("ator", "ate"),
          ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
          ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"),
          ("biliti", "ble"))
_STEP3 = (("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
          ("ical", "ic"), ("ful", ""), ("ness", ""))
_STEP4 = ("al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
          "ment", "ent", "ou", "ism", "ate", "iti", "ous", "ive", "ize")


@lru_cache(maxsize=65536)
def porter_stem(word: str) -> str:
    """Stem one lowercase word (Porter 1980, steps 1a-5b)."""
    w = word
    if len(w) <= 2:
        return w

    # step 1a: plurals
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif not w.endswith("ss") and w.endswith("s"):
        w = w[:-1]

    # step 1b: -ed / -ing
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    else:
        stripped = None
        if w.endswith("ed") and _has_vowel(w[:-2]):
            stripped = w[:-2]
        elif w.endswith("ing") and _has_vowel(w[:-3]):
            stripped = w[:-3]
        if stripped is not None:
            w = stripped
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif _double_cons(w) and w[-1] not in "lsz":
                w = w[:-1]
            elif _measure(w) == 1 and _cvc(w):
                w += "e"

    # step 1c: y -> i after a vowel
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # step 2 (m > 0 suffix map)
    for suf, repl in _STEP2:
        if w.endswith(suf):
            w = _replace(w, suf, repl, 0)
            break

    # step 3 (m > 0 suffix map)
    for suf, repl in _STEP3:
        if w.endswith(suf):
            w = _replace(w, suf, repl, 0)
            break

    # step 4 (m > 1 deletions; -ion needs preceding s/t)
    for suf in _STEP4:
        if w.endswith(suf):
            stem = w[:-len(suf)]
            if _measure(stem) > 1:
                w = stem
            break
    else:
        if w.endswith("ion") and len(w) > 3 and w[-4] in "st":
            stem = w[:-3]
            if _measure(stem) > 1:
                w = stem

    # step 5a: final -e
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _cvc(stem)):
            w = stem
    # step 5b: -ll -> -l for m > 1
    if _measure(w) > 1 and _double_cons(w) and w.endswith("l"):
        w = w[:-1]
    return w


def porter_factory():
    """Factory for the T5 seam (``textproc.resolve_plugin``): lowercase then
    stem purely-alphabetic ASCII words; anything else (numbers-in-words,
    non-Latin scripts) just lowercases — the same graceful degradation the
    reference's Mystem wrapper applies to out-of-vocabulary tokens."""
    def lemma(word: str) -> str:
        w = word.lower()
        if w.isascii() and w.isalpha():
            return porter_stem(w)
        return w
    return lemma
