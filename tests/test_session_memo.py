"""The one session-memo primitive (``operators.base.session_memo``).

The reuse policy every shared build follows — key on applicationId +
sf_dir + parameters, fingerprint the input tables, replace on a new
generation, bypass on an unreadable table — is pinned here once, on a
stand-in function (no Spark needed). Each consumer's own identity and
value checks stay in its module's tests; this file checks that every
consumer is built on the primitive over the tables it reads.
"""

from __future__ import annotations

import ast
import inspect
import os
import pathlib
from types import SimpleNamespace

import pytest

from data_to_parquet_spark.operators import base
from data_to_parquet_spark.operators import dedup, pipeline, similarity, text
from data_to_parquet_spark.operators import tpch_extra
from data_to_parquet_spark.operators.base import session_memo
from data_to_parquet_spark.streaming import windows

PKG = pathlib.Path(base.__file__).resolve().parents[1]

#: every session memo in the engine, with the tables it fingerprints
MEMOS = {
    "_doc_signatures": (dedup, ("documents",)),
    "neardup_jaccard_pairs": (dedup, ("documents",)),
    "_cc_label_table": (dedup, ("documents",)),
    "_corpus_centroids": (similarity, ("embeddings",)),
    "embedding_neardup_pairs": (similarity, ("embeddings",)),
    "similarity_topk_bruteforce": (similarity, ("embeddings",)),
    "_pq_fit": (similarity, ("embeddings",)),
    "_ivfpq_fit": (similarity, ("embeddings",)),
    "_als_sweep": (similarity, ("lineitem", "orders", "part")),
    "_bm25_frames": (text, ("documents",)),
    "_shingle_frame": (pipeline, ("documents",)),
    "_corpus_embedding_sums": (pipeline, ("documents",)),
    "_order_brand_sets": (tpch_extra, ("lineitem", "part")),
    "_inc_neardup_accumulate": (windows, ("documents",)),
    "_ivfpq_stream_accumulate": (windows, ("embeddings",)),
    "_manifest_stream_accumulate": (windows, ("documents",)),
    "_upsert_stream_state": (windows, ("events",)),
    "_upsert_delta_chain": (windows, ("events",)),
    "_compacted_snapshot_dir": (windows, ("events",)),
    "_decon_stream_partials": (windows, ("documents",)),
}

_SPARK = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-1"))


def _write(root, table: str, payload: bytes) -> None:
    with open(os.path.join(root, f"{table}.parquet"), "wb") as f:
        f.write(payload)


def _stand_in(tables):
    """A memoized builder that returns a fresh object per real build."""
    builds = []

    @session_memo(*tables)
    def build(spark, sf_dir, k, scale=1.0):
        """stand-in doc"""
        builds.append((k, scale))
        return object()

    return build, builds


@pytest.mark.parametrize(
    "tables,check",
    [
        (("documents",), "hit"),
        (("documents",), "positional_and_keyword_share_entry"),
        (("documents",), "regenerated"),
        (("documents",), "stale_injected"),
        (("documents",), "unreadable"),
        (("lineitem", "part"), "regenerated"),
        (("lineitem", "part"), "one_table_regenerated"),
        (("lineitem", "part"), "one_table_unreadable"),
    ],
    ids=lambda v: "+".join(v) if isinstance(v, tuple) else v,
)
def test_session_memo_contract(tmp_path, tables, check):
    root = str(tmp_path)
    for t in tables:
        _write(root, t, b"gen-1")
    fn, builds = _stand_in(tables)
    first = fn(_SPARK, root, 3)

    if check == "hit":
        assert fn(_SPARK, root, 3) is first
        assert fn(_SPARK, root, 4) is not first  # other params, own entry
        assert len(fn.memo) == 2 and len(builds) == 2
    elif check == "positional_and_keyword_share_entry":
        assert fn(_SPARK, root, k=3) is first
        assert fn(_SPARK, root, 3, scale=1.0) is first
        assert fn(_SPARK, root, 3, 1.0) is first
        assert len(fn.memo) == 1 and len(builds) == 1
    elif check in ("regenerated", "one_table_regenerated"):
        regen = tables if check == "regenerated" else tables[-1:]
        for t in regen:
            _write(root, t, b"generation-2")  # new size: new fingerprint
        second = fn(_SPARK, root, 3)
        assert second is not first  # a new generation misses ...
        assert len(fn.memo) == 1  # ... and replaces, not accumulates
        assert fn(_SPARK, root, 3) is second
    elif check == "stale_injected":
        (key,) = fn.memo
        fp, value = fn.memo[key]
        fn.memo[key] = (("stale",), value)
        second = fn(_SPARK, root, 3)
        assert second is not first
        assert fn.memo[key] == (fp, second)
    elif check in ("unreadable", "one_table_unreadable"):
        fn.memo.clear()
        os.remove(os.path.join(root, f"{tables[-1]}.parquet"))
        a, b = fn(_SPARK, root, 3), fn(_SPARK, root, 3)
        assert a is not b  # recomputed every call ...
        assert fn.memo == {}  # ... and never stored
    else:
        raise AssertionError(check)


def test_session_memo_keys_on_application_and_sf_dir(tmp_path):
    for sub in ("a", "b"):
        os.mkdir(tmp_path / sub)
        _write(str(tmp_path / sub), "documents", b"x")
    fn, builds = _stand_in(("documents",))
    other = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="app-2")
    )
    fn(_SPARK, str(tmp_path / "a"), 1)
    fn(_SPARK, str(tmp_path / "b"), 1)
    fn(other, str(tmp_path / "a"), 1)
    assert len(builds) == 3 and len(fn.memo) == 3


@pytest.mark.parametrize("name", sorted(MEMOS))
def test_every_memo_consumer_uses_session_memo(name):
    module, tables = MEMOS[name]
    fn = getattr(module, name)
    assert isinstance(fn.memo, dict)
    assert inspect.getclosurevars(fn).nonlocals["tables"] == tables
    # the registry and perfbench's per-module spans read these
    assert fn.__module__ == module.__name__
    assert fn.__doc__ and fn.__doc__ == fn.__wrapped__.__doc__


def _module_trees():
    for sub in ("operators", "streaming"):
        for path in sorted((PKG / sub).glob("*.py")):
            yield path, ast.parse(path.read_text())


def test_session_memo_list_is_complete():
    found = set()
    for _, tree in _module_trees():
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and any(
                isinstance(d, ast.Call)
                and getattr(d.func, "id", None) == "session_memo"
                for d in node.decorator_list
            ):
                found.add(node.name)
    assert found == set(MEMOS)


def test_no_module_level_cache_dicts():
    """Session reuse goes through ``session_memo`` only: no hand-rolled
    module-level ``*_CACHE`` dict is left under operators/ or streaming/."""
    left = []
    for path, tree in _module_trees():
        for node in tree.body:
            targets = (
                node.targets
                if isinstance(node, ast.Assign)
                else [node.target]
                if isinstance(node, ast.AnnAssign)
                else []
            )
            left += [
                f"{path.name}:{t.id}"
                for t in targets
                if isinstance(t, ast.Name) and t.id.endswith("_CACHE")
            ]
    assert left == []
