"""``suite.reset_memos()`` clears every artifact memo: a module-level
``_*_CACHE`` dict in ``suite`` is either cleared by it or on the
allowlist of kept caches that its docstring names."""

from __future__ import annotations

import re

from osrs_dashboard_elt_spark import suite

# the lazy-relation cache and the table-format mutation fixtures: kept
# across reps on purpose (see the reset_memos docstring)
KEPT = (
    "_T_CACHE",
    "_DELETE_PATH_CACHE",
    "_DV_PATH_CACHE",
    "_CDF_PATH_CACHE",
    "_LIN_PATH_CACHE",
    "_EVOLVE_PATH_CACHE",
    "_COMPACT_PATH_CACHE",
    "_IVM_PATH_CACHE",
    "_MERGED_PATH_CACHE",
    "_IVMSEG_PATH_CACHE",
    "_CDC_STREAM_CACHE",
)


def _caches() -> dict[str, dict]:
    return {
        name: value
        for name, value in vars(suite).items()
        if re.fullmatch(r"_[A-Z0-9_]*_CACHE", name) and isinstance(value, dict)
    }


def test_reset_memos_clears_every_artifact_cache():
    caches = _caches()
    assert "_BPE_TRAIN_CACHE" in caches
    saved = {name: dict(c) for name, c in caches.items()}
    sentinel = ("reset_memos", "sentinel")
    try:
        for c in caches.values():
            c[sentinel] = None
        suite.reset_memos()
        missed = sorted(
            name for name, c in caches.items() if sentinel in c and name not in KEPT
        )
        assert not missed, f"reset_memos() misses {missed}"
    finally:
        for name, c in caches.items():
            c.clear()
            c.update(saved[name])


def test_kept_caches_are_named_in_the_docstring():
    doc = suite.reset_memos.__doc__
    assert [name for name in KEPT if f"``{name}``" not in doc] == []
    assert set(KEPT) <= set(_caches())
