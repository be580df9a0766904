"""Structural guard for the one streaming-maintainer lifecycle.

Every maintainer in ``beast_spark.streaming`` rides
``streaming/swap.py::Maintainer``: the replay no-op and the
availableNow ``foreachBatch`` wiring live there once, and a maintainer
supplies only its ``_absorb`` hook. Every one commits through
``ManifestSwapTable``, the one commit protocol. Import-only, no Spark
jobs — it covers the maintainers whose behavioural suites are too heavy
for the fast tier (IVF, near-dup, corpus v3, SemDeDup) as well.
"""

from __future__ import annotations

import importlib
import inspect
import os
import pkgutil

import beast_spark.streaming as streaming
from beast_spark.streaming.swap import Maintainer, ManifestSwapTable

# The only lifecycle overrides left; both call super().
_OVERRIDES = {
    # the old single-table layout is rejected before the ledger read
    ("EmbeddingNearDupMaintainer", "apply_batch"),
    # adds the src_path column from the file source's _metadata
    ("CorpusV3PointerMaintainer", "stream_from"),
}

_EXPECTED = {
    "AdditiveStatsMaintainer",
    "CentroidMaintainer",
    "ComponentsMaintainer",
    "CorpusV2Maintainer",
    "CorpusV3Maintainer",
    "CorpusV3PointerMaintainer",
    "DecontamMaintainer",
    "DriftMaintainer",
    "EmbeddingNearDupMaintainer",
    "GateStatsMaintainer",
    "HourlyWindowStatsMaintainer",
    "ImportanceModelMaintainer",
    "IvfIndexMaintainer",
    "LexicalIndexMaintainer",
    "MultiProbeSemanticDedupMaintainer",
    "RollupMaintainer",
    "Scd2Maintainer",
    "SemanticDedupMaintainer",
    "SessionStatsMaintainer",
    "SketchMaintainer",
    "TokenAccountingMaintainer",
}


def _modules():
    for info in pkgutil.iter_modules(streaming.__path__):
        yield importlib.import_module(f"{streaming.__name__}.{info.name}")


def _lifecycle_classes() -> dict[str, type]:
    """Every class defined in the package that has a lifecycle method
    (own ``_absorb``, or ``apply_batch`` / ``stream_from`` anywhere in
    its MRO) — so a maintainer that copies the wiring without the mixin
    is caught too."""
    found = {}
    for mod in _modules():
        for name, cls in inspect.getmembers(mod, inspect.isclass):
            if cls.__module__ != mod.__name__ or cls is Maintainer:
                continue
            if "_absorb" in vars(cls) or any(
                hasattr(cls, m) for m in ("apply_batch", "stream_from")
            ):
                found[name] = cls
    return found


def test_every_maintainer_rides_the_one_lifecycle():
    found = _lifecycle_classes()
    assert _EXPECTED <= set(found), sorted(_EXPECTED - set(found))
    overrides = set()
    for name, cls in found.items():
        assert issubclass(cls, Maintainer), name
        # one commit protocol: the manifest flip
        assert issubclass(cls, ManifestSwapTable), name
        for method in ("apply_batch", "stream_from"):
            if method in vars(cls):
                overrides.add((name, method))
    assert overrides == _OVERRIDES


def test_replay_check_lives_in_one_place():
    pkg = os.path.dirname(streaming.__file__)
    hits = []
    for fname in sorted(os.listdir(pkg)):
        if fname.endswith(".py"):
            with open(os.path.join(pkg, fname)) as fh:
                src = fh.read()
            hits += [fname] * src.count("batch_id in self.applied_batches()")
    assert hits == ["swap.py"]


class _Host(Maintainer):
    def __init__(self, applied):
        self.applied = set(applied)
        self.absorbed = []

    def applied_batches(self):
        return self.applied

    def _absorb(self, batch_df, batch_id):
        self.absorbed.append((batch_df, batch_id))
        self.applied.add(batch_id)


def test_apply_batch_skips_committed_batches_and_absorbs_the_rest():
    host = _Host({0, 1})
    host.apply_batch("b1", 1)
    host.apply_batch("b2", 2)
    host.apply_batch("b2-replayed", 2)
    assert host.absorbed == [("b2", 2)]
