"""T9 — the reference's entity masking formatter FAMILY.

Reference: ``arekit/common/entities/str_fmt.py`` (interface) with five
implementations under ``arekit/contrib/utils/entities/formatters/``:

* sharp-prefixed (``str_simple_sharp_prefixed_fmt.py:5-15``): #S / #O / #E —
  the engine's default sample masking (operators/samples.py);
* simple (``str_simple_fmt.py:8-24``): subject / object / e (embedding
  lookup words);
* uppercase (``str_simple_uppercase_fmt.py:6-20``): E_SUBJ / E_OBJ / ENTITY;
* RU no-cased (``str_rus_nocased_fmt.py:5-15``): субъект / объект / сущность;
* RU cased (``str_rus_cased_fmt.py:9-77``): declension-aware — the mask is a
  template (субъект/объект/сущност) plus a case+number suffix looked up from
  the value's grammatical case and number.

The reference resolves Subject == SynonymSubject and Object == SynonymObject
to the same mask in every shipped formatter (``types.py:4-9`` distinguishes
them only for custom formatters), which is exactly what the engine's masking
expression does (group-match and index-match both produce the subject/object
mask). The first four formatters are VALUE-INDEPENDENT constants, so they
enter the Spark plan as three literals; the cased formatter's suffix depends
on the value — it rides the parse-closure annotation (never a per-value
literal in the plan), through a pluggable POS-tagger seam mirroring the
lemmatizer seam (the reference's tagger is the external Mystem process,
``processing/pos/mystem_wrap.py``; the deterministic default returns
UNKN/UNKN, i.e. nominative-singular-like suffixes, matching the reference's
behavior on out-of-vocabulary values).
"""

from __future__ import annotations

from typing import Callable, NamedTuple


class EntityMasks(NamedTuple):
    """Constant masks for (subject, object, other) — one per formatter."""
    subject: str
    object: str
    other: str


# str_simple_sharp_prefixed_fmt.py:5-15
SHARP = EntityMasks("#S", "#O", "#E")
# str_simple_fmt.py:8-24
SIMPLE = EntityMasks("subject", "object", "e")
# str_simple_uppercase_fmt.py:6-20
UPPERCASE = EntityMasks("E_SUBJ", "E_OBJ", "ENTITY")
# str_rus_nocased_fmt.py:5-15
RU_NOCASED = EntityMasks("субъект", "объект", "сущность")

# ------------------------------------------------------- RU cased formatter
# the cased formatter's mask TEMPLATES: each mask is template || suffix
RU_CASED = EntityMasks("субъект", "объект", "сущност")
# Russian grammatical cases (processing/languages/ru/cases.py enum order).
UNKN, NOM, GEN, DAT, ACC, INS, ABL = range(7)
SINGLE, MULTI = 0, 1

# суффиксы for the объект/субъект templates (str_rus_cased_fmt.py:12-20)
_OBJ_SUBJ_SUFFIX = {
    UNKN: ("", ""), NOM: ("", "ы"), GEN: ("а", "ов"), DAT: ("y", "ам"),
    ACC: ("", "ы"), INS: ("ом", "aми"), ABL: ("e", "ах"),
}
# суффиксы for the сущност template (str_rus_cased_fmt.py:23-31)
_ENTITY_SUFFIX = {
    UNKN: ("ь", "и"), NOM: ("ь", "и"), GEN: ("и", "ей"), DAT: ("и", "ям"),
    ACC: ("ь", "и"), INS: ("ью", "ьями"), ABL: ("и", "ях"),
}

# POS-tagger seam: value -> (case, number), resolved by name once per
# process through the same resolver as the lemmatizer
# (``textproc.resolve_plugin``: "default" or a dotted "module:factory").
# The default mirrors the reference's behavior when the tagger cannot
# resolve a value: UNKN case and UNKN/Single number
# (str_rus_cased_fmt.py:69-75).
PosTagger = Callable[[str], tuple[int, int]]


def default_pos_tagger(_value: str) -> tuple[int, int]:
    return (UNKN, SINGLE)


def cased_suffixes(value: str,
                   pos_tagger: PosTagger = default_pos_tagger
                   ) -> tuple[str, str]:
    """(obj/subj suffix, entity suffix) for a value — the two declension
    suffixes the cased formatter can ever need for it
    (``__get_correct_declention``, str_rus_cased_fmt.py:59-77)."""
    case, num = pos_tagger(value)
    num_ix = MULTI if num == MULTI else SINGLE
    if case not in _OBJ_SUBJ_SUFFIX:
        case = UNKN
    return (_OBJ_SUBJ_SUFFIX[case][num_ix], _ENTITY_SUFFIX[case][num_ix])


def ru_cased_masks(value: str,
                   pos_tagger: PosTagger = default_pos_tagger) -> EntityMasks:
    """Full cased-formatter output for one value (all three roles)."""
    osuf, esuf = cased_suffixes(value, pos_tagger)
    return EntityMasks(RU_CASED.subject + osuf, RU_CASED.object + osuf,
                       RU_CASED.other + esuf)


FORMATTERS: dict[str, EntityMasks] = {
    "sharp": SHARP,
    "simple": SIMPLE,
    "uppercase": UPPERCASE,
    "ru_nocased": RU_NOCASED,
}
