"""Every per-``sf_dir`` cache in ``suite`` is a ``memo`` builder, and
``reset_memos()`` clears the ``memo("artifact")`` ones and only
those."""

from __future__ import annotations

import ast
import inspect

from osrs_dashboard_elt_spark import suite

# the registries, and the lazy-relation cache (keyed on session and
# file version, not on sf_dir)
NOT_MEMOS = {"QUERIES", "ORACLES", "_T_CACHE"}


def test_no_bare_module_level_cache():
    """The constant dicts in ``suite`` are non-empty literals, so a
    module-level empty dict is a cache that bypasses ``memo``."""
    bare = []
    for node in ast.parse(inspect.getsource(suite)).body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign):
            targets, value = [node.target], node.value
        else:
            continue
        empty = (isinstance(value, ast.Dict) and not value.keys) or (
            isinstance(value, ast.Call)
            and isinstance(value.func, ast.Name)
            and value.func.id == "dict"
            and not value.args
            and not value.keywords
        )
        if empty:
            bare += [t.id for t in targets if isinstance(t, ast.Name)]
    assert [n for n in bare if n not in NOT_MEMOS] == []


def test_reset_memos_rebuilds_artifacts_and_keeps_fixtures():
    builds = {"artifact": 0, "fixture": 0}

    def stub(kind):
        def build(spark, sf_dir):
            builds[kind] += 1
            return [kind, sf_dir]

        return suite.memo(kind)(build)

    n_memos = len(suite._ARTIFACT_MEMOS)
    try:
        artifact, fixture = stub("artifact"), stub("fixture")
        for get in (artifact, fixture):
            assert get(None, "a") is get(None, "a")
            assert get(None, "b")[1] == "b"
        assert builds == {"artifact": 2, "fixture": 2}

        for cache in suite._ARTIFACT_MEMOS:
            cache["sentinel"] = None
        suite.reset_memos()
        assert not any(suite._ARTIFACT_MEMOS), "reset_memos() missed a memo"

        artifact(None, "a")
        fixture(None, "a")
        assert builds == {"artifact": 3, "fixture": 2}
    finally:
        del suite._ARTIFACT_MEMOS[n_memos:]
