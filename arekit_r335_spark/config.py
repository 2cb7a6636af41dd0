"""Pipeline configuration.

Mirrors the reference's canonical parameters
(``arekit/contrib/utils/pipelines/sources/rusentrel/extract_text_opinions.py:24-25``:
``terms_per_context=50``, ``dist_in_sentences=0``) as a plain dataclass; there is
no ported ``BasePipeline`` framework — stages are DataFrame->DataFrame functions.
"""

from __future__ import annotations

from dataclasses import dataclass, field


NO_LABEL = "nolabel"

# Negation lexicon — the EN analog of the reference's RussianLanguageMods
# negation check (``arekit/contrib/utils/pipelines/items/text/frames_negation.py:14-28``).
NEGATION_WORDS = ("not", "no", "never", "без", "не")


@dataclass(frozen=True)
class PipelineConfig:
    """Knobs of the triple-extraction pipeline (EP1 of SURVEY.md §3)."""

    # J3: max term distance for candidate pairs, INCLUSIVE bound
    # (``pair_based.py:63-65``: rejected when ``t_dist > bound``).
    dist_in_terms_bound: int = 50
    # J11: sample window, STRICT bound (``common/data/input/sample.py:62``:
    # kept when ``actual_dist < window``). Both reproduced exactly.
    terms_per_context: int = 50
    # J3: max sentence (turn) distance, inclusive (default 0 = same turn).
    dist_in_sents: int = 0
    # J12: optional entity-type whitelist; None disables the filter
    # (types come from an external value->type map for transcripts).
    entity_type_whitelist: tuple[str, ...] | None = None
    # open-world synonym registration (J7): register unseen values as new
    # singleton groups (``common/synonyms/grouping.py:8-15``).
    register_missed_synonyms: bool = True
    # label used by the pair-based (auto) annotator.
    no_label: str = NO_LABEL

    negation_words: tuple[str, ...] = NEGATION_WORDS

    # T5 lemmatization seam: "lower" (the deterministic default normalizer)
    # or a dotted "package.module:factory" path, resolved once per executor
    # process by ``operators.textproc.resolve_plugin`` — Mystem-style
    # subprocess backends never ship through the task closure.
    lemmatizer: str = "lower"

    # J4b connotation source: "polarity" (the reference's a0->a1 frame
    # polarity, default) or "effect:<role>" (the role's EFFECT label,
    # e.g. "effect:a1" — how the theme is affected; frames without that
    # role's effect are voteless). Selects the frame_id->label map fed to
    # the frame-connotation annotator in BOTH physical strategies, so the
    # runner can materialize effect-labeled graphs end-to-end.
    connotation: str = "polarity"

    def __post_init__(self) -> None:
        if self.terms_per_context <= 0:
            raise ValueError("terms_per_context must be > 0")


@dataclass(frozen=True)
class ScaleConfig:
    """Spark-session knobs sized for the sandbox (local[32]); on a real
    cluster these come from spark-submit conf."""

    shuffle_partitions: int = 32
    max_records_per_batch: int = 10_000
    extra_conf: dict = field(default_factory=dict)
