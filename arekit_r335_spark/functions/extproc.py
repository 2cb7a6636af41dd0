"""External-process lemmatizer backend — the Mystem-shaped seam exercise.

The reference's production lemmatizer is an EXTERNAL PROCESS driven over
pipes (``contrib/utils/processing/lemmatization/mystem.py:6-51`` wraps the
pymystem3 binary; non-hermetic and RU-only, so excluded from this sandbox).
The in-process Porter backend (``stemming.py``) proves the dotted-path seam
resolves per executor, but not the part that is actually hard on a cluster:
the SUBPROCESS lifecycle — spawn once per executor Python worker (not per
batch, not per row), keep the pipe warm across batches, and reap the child
when the worker exits.  This module ships that lifecycle with a hermetic
stand-in child (``python -c`` line-lowercaser, byte-for-byte the default
normalizer's output) so the machinery is TESTED; a real deployment swaps
``argv`` for the mystem binary and parses its output line format.

Wire-up (identical to every other backend):

    PipelineConfig(lemmatizer=
        "arekit_r335_spark.functions.extproc:subprocess_lower_factory")

``textproc.resolve_plugin`` resolves the factory lazily in whichever
process asks and memoizes it per process — so exactly one child per
executor worker, shipped nothing non-picklable in the task closure.
"""

from __future__ import annotations

import atexit
import os
import subprocess
import sys

# the hermetic stand-in child: reads words line-by-line, answers the
# lowercased line — the protocol shape of mystem's pipe mode
_CHILD_SRC = "import sys\nfor _l in sys.stdin:\n    print(_l.strip().lower(), flush=True)\n"


class SubprocessLemmatizer:
    """One pipe-driven child per Python worker process.

    * spawn on construction (the factory runs once per process via the
      ``resolve_plugin`` memo);
    * ``__call__`` writes one word, reads one lemma — an in-process
      ``lru``-style dict memo in front keeps the pipe round-trip off the
      Zipfian hot path (same bounded-cache discipline as the tokenizer);
    * ``close`` (also registered via ``atexit``) terminates the child —
      clean teardown when the worker exits or is reaped between stages.
    """

    def __init__(self, argv: list[str] | None = None):
        self.argv = argv or [sys.executable, "-u", "-c", _CHILD_SRC]
        self.proc = subprocess.Popen(
            self.argv, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True, bufsize=1)
        self._memo: dict[str, str] = {}
        self._spawn_pid = os.getpid()
        atexit.register(self.close)

    def __call__(self, word: str) -> str:
        out = self._memo.get(word)
        if out is None:
            if len(self._memo) >= (1 << 17):
                self._memo.clear()
            # words are whitespace-split tokens: never contain newlines
            self.proc.stdin.write(word + "\n")
            self.proc.stdin.flush()
            line = self.proc.stdout.readline()
            if line == "" and not self.alive:
                # a dead child yields EOF ('' forever): fail loudly rather
                # than silently memoizing empty lemmas for every later word
                raise RuntimeError(
                    f"lemmatizer child {self.argv!r} died "
                    f"(returncode={self.proc.returncode}) while "
                    f"lemmatizing {word!r}")
            out = line.rstrip("\n")
            self._memo[word] = out
        return out

    def close(self) -> None:
        p = self.proc
        if p.poll() is None:
            try:
                p.stdin.close()
                p.wait(timeout=5)
            except Exception:
                p.kill()
                p.wait()

    @property
    def alive(self) -> bool:
        return self.proc.poll() is None


def subprocess_lower_factory() -> SubprocessLemmatizer:
    """Factory for the seam: one child per process, lowercase protocol."""
    return SubprocessLemmatizer()
