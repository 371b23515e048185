"""The journaled index swap has one owner.

``extras.util.swap_in`` rebuilds a persisted index beside the live one
and swaps it in between two directory renames, bracketed by a journal;
``extras.util.recover_swap`` finishes or rolls back a swap that died
inside that window.  Both MinHash-LSH and IVF-PQ maintenance run on
them.  These tests drive the decision table on plain local directories
holding a marker file (Hadoop's local FileSystem through the session's
JVM; no parquet write, no Spark job), and pin the swap, the filesystem
lookup and the parquet-footer walk to one function each.
"""

from __future__ import annotations

import ast
import functools
import json
import os
import pathlib

import pytest

import pydiverse_transform_spark
from pydiverse_transform_spark.extras import dedup
from pydiverse_transform_spark.extras import similarity as sim
from pydiverse_transform_spark.extras.util import recover_swap, swap_in
from pydiverse_transform_spark.sources import sinks


def _mkdir(path, marker):
    os.makedirs(path)
    with open(os.path.join(path, "marker"), "w") as f:
        f.write(marker)


def _marker(path):
    with open(os.path.join(path, "marker")) as f:
        return f.read()


def _journal(idx, text=None, **rec):
    with open(idx + ".__swap", "w") as f:
        f.write(json.dumps({"index": idx, **rec}) if text is None
                else text)


def _left(idx):
    """Which of index / .__new / .__old / journal exist."""
    return {s for s in ("", ".__new", ".__old", ".__swap")
            if os.path.exists(idx + s)}


# survivors present (besides the journal) -> (action, marker at index)
_TABLE = {
    "index+new": ({"", ".__new"}, "rolled_back_stale_new", "live"),
    "old+new": ({".__old", ".__new"}, "rolled_forward_new", "new"),
    "index+old": ({"", ".__old"}, "rolled_forward_cleanup", "live"),
    "old": ({".__old"}, "rolled_back_old", "old"),
}
_MARK = {"": "live", ".__new": "new", ".__old": "old"}


def _survivors(idx, present):
    for s in present:
        _mkdir(idx + s, _MARK[s])


@pytest.mark.parametrize("state", sorted(_TABLE))
@pytest.mark.parametrize("journal", ["json", "partial"])
def test_recover_decision_table(spark, tmp_path, state, journal):
    """Each journaled survivor state resolves to one index and no
    strays.  A partial journal (a crash while writing it) is read as
    recording this call's own paths."""
    idx = str(tmp_path / "idx")
    present, action, marker = _TABLE[state]
    _survivors(idx, present)
    _journal(idx, text='{"index": "' if journal == "partial" else None)
    assert recover_swap(spark, idx) == action
    assert _left(idx) == {""}
    assert _marker(idx) == marker


def test_recover_without_journal_is_a_noop(spark, tmp_path):
    """Strays without a journal are a crashed build: left alone."""
    idx = str(tmp_path / "idx")
    _survivors(idx, {"", ".__new"})
    assert recover_swap(spark, idx) is None
    assert _left(idx) == {"", ".__new"}


def test_recover_journal_beside_a_lone_index(spark, tmp_path):
    """Journal written, no rename done, .__new already gone: nothing
    to decide, the journal is dropped."""
    idx = str(tmp_path / "idx")
    _mkdir(idx, "live")
    _journal(idx)
    assert recover_swap(spark, idx) is None
    assert _left(idx) == {""} and _marker(idx) == "live"


def test_recover_refuses_another_index(spark, tmp_path):
    idx = str(tmp_path / "idx")
    _survivors(idx, {".__old", ".__new"})
    _journal(idx, index=str(tmp_path / "elsewhere"))
    with pytest.raises(IOError, match="refusing to recover"):
        recover_swap(spark, idx)
    assert _left(idx) == {".__old", ".__new", ".__swap"}


def test_recover_staging_check_only_when_verifying(spark, tmp_path):
    """The maintain path (verify=True) refuses a journal naming another
    staging root; the standalone path resets the JOURNAL's roots."""
    idx = str(tmp_path / "idx")
    stg, ckpt, mine = (str(tmp_path / n) for n in ("stg", "ckpt", "mine"))
    for p in (stg, ckpt, mine):
        _mkdir(p, "rows")
    _survivors(idx, {".__old", ".__new"})
    _journal(idx, staging=stg, checkpoint=ckpt)
    with pytest.raises(IOError, match="journaled staging root"):
        recover_swap(spark, idx, mine, verify=True)
    assert _left(idx) == {".__old", ".__new", ".__swap"}
    assert recover_swap(spark, idx, mine) == "rolled_forward_new"
    assert not os.path.exists(stg) and not os.path.exists(ckpt)
    assert os.path.exists(mine)


@pytest.mark.parametrize("state", sorted(_TABLE))
def test_only_roll_forward_resets_journaled_roots(spark, tmp_path, state):
    idx = str(tmp_path / "idx")
    stg, ckpt = str(tmp_path / "stg"), str(tmp_path / "ckpt")
    _mkdir(stg, "rows")
    _mkdir(ckpt, "offsets")
    present, action, _ = _TABLE[state]
    _survivors(idx, present)
    _journal(idx, staging=stg, checkpoint=ckpt)
    assert recover_swap(spark, idx, stg, ckpt, verify=True) == action
    rolled_forward = action.startswith("rolled_forward")
    assert os.path.exists(stg) is not rolled_forward
    assert os.path.exists(ckpt) is not rolled_forward


def _build(marker):
    def build(out):
        _mkdir(out, marker)
        return {"files": 1}
    return build


def test_swap_in_swaps_and_resets(spark, tmp_path):
    idx = str(tmp_path / "idx")
    stg, ckpt = str(tmp_path / "stg"), str(tmp_path / "ckpt")
    for p, m in ((idx, "live"), (stg, "rows"), (ckpt, "offsets")):
        _mkdir(p, m)
    out = swap_in(spark, idx, _build("built"), staging=stg,
                  checkpoint=ckpt)
    assert out == {"files": 1, "recovered": None}
    assert _left(idx) == {""} and _marker(idx) == "built"
    assert not os.path.exists(stg) and not os.path.exists(ckpt)


def test_swap_in_after_a_crashed_build(spark, tmp_path):
    """A build that dies leaves the live index and a stale .__new; the
    next swap drops the stray and swaps as usual."""
    idx = str(tmp_path / "idx")
    _mkdir(idx, "live")

    def dies(out):
        _mkdir(out, "half")
        raise RuntimeError("killed")

    with pytest.raises(RuntimeError):
        swap_in(spark, idx, dies)
    assert _left(idx) == {"", ".__new"} and _marker(idx) == "live"
    assert swap_in(spark, idx, _build("built"))["recovered"] is None
    assert _left(idx) == {""} and _marker(idx) == "built"


def test_swap_in_refuses_before_building(spark, tmp_path):
    idx = str(tmp_path / "idx")
    _survivors(idx, {".__old", ".__new"})
    _journal(idx, staging=str(tmp_path / "stg"))
    calls = []
    with pytest.raises(IOError, match="journaled staging root"):
        swap_in(spark, idx, lambda out: calls.append(out),
                staging=str(tmp_path / "mine"))
    assert calls == [] and _left(idx) == {".__old", ".__new", ".__swap"}


def test_minhash_maintain_rolls_forward_through_swap_in(
        spark, tmp_path, monkeypatch):
    """The minhash side's roll-forward on the maintain path: a crash
    between the two renames is finished before the rebuild."""
    idx = str(tmp_path / "idx")
    _survivors(idx, {".__old", ".__new"})
    _journal(idx)
    seen = []

    def compact(spark_, src, out, **kw):
        seen.append(_marker(src))
        _mkdir(out, "compacted")
        return {"files_out": 1}

    monkeypatch.setattr(dedup, "read_minhash_meta",
                        lambda s, p: {"id_col": "doc_id"})
    monkeypatch.setattr(sinks, "compact_parquet", compact)
    out = dedup.minhash_index_maintain(spark, idx)
    assert out == {"files_out": 1, "recovered": "rolled_forward_new"}
    assert seen == ["new"]           # compacted the rolled-forward index
    assert _left(idx) == {""} and _marker(idx) == "compacted"
    assert os.path.exists(os.path.join(idx, dedup.MINHASH_META_FILE))


def test_ivfpq_maintain_cleanup_state_through_swap_in(
        spark, tmp_path, monkeypatch):
    """IVF-PQ maintain on a crash after both renames: the stale .__old
    goes, the journaled staging root is reset, and the fold runs."""
    idx = str(tmp_path / "idx")
    stg = str(tmp_path / "stg")
    _mkdir(stg, "rows")
    _survivors(idx, {"", ".__old"})
    _journal(idx, staging=stg, checkpoint=None)

    def fold(spark_, index_path, staging_path, out, **kw):
        _mkdir(out, "folded")
        return {"files_out": 2}

    monkeypatch.setattr(sim, "ivfpq_fold_staging", fold)
    out = sim.ivfpq_maintain(spark, idx, stg)
    assert out == {"files_out": 2, "recovered": "rolled_forward_cleanup"}
    assert _left(idx) == {""} and _marker(idx) == "folded"
    assert not os.path.exists(stg)


# ---------------------------------------------------------------------------
# one owner per decision, pinned on the source
# ---------------------------------------------------------------------------

_PKG = pathlib.Path(pydiverse_transform_spark.__file__).parent


@functools.cache
def _code_nodes():
    """(``module:top-level name``, its nodes) over the package, with
    docstrings dropped: they are prose, not code."""
    out = []
    for f in sorted(_PKG.rglob("*.py")):
        tree = ast.parse(f.read_text())
        docs = {id(n.value) for n in ast.walk(tree)
                if isinstance(n, ast.Expr)
                and isinstance(n.value, ast.Constant)}
        for top in tree.body:
            out.append((f"{f.relative_to(_PKG).as_posix()}:"
                        f"{getattr(top, 'name', '<module>')}",
                        [n for n in ast.walk(top) if id(n) not in docs]))
    return out


def _functions_where(pred):
    return sorted({name for name, nodes in _code_nodes()
                   if any(pred(n) for n in nodes)})


def _swap_suffix(node):
    return (isinstance(node, ast.Constant) and isinstance(node.value, str)
            and any(s in node.value
                    for s in (".__swap", ".__new", ".__old")))


def _calls(attr):
    def pred(node):
        return (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == attr)
    return pred


def _footer_rows(node):
    return (isinstance(node, ast.Attribute) and node.attr == "num_rows"
            and isinstance(node.value, ast.Attribute)
            and node.value.attr == "metadata")


def test_each_index_decision_has_one_owner():
    swap = ["extras/util.py:recover_swap", "extras/util.py:swap_in"]
    assert _functions_where(_swap_suffix) == swap
    assert _functions_where(_calls("rename")) == swap
    assert _functions_where(_calls("getFileSystem")) == \
        ["extras/util.py:hadoop_fs"]
    assert _functions_where(_footer_rows) == \
        ["extras/util.py:_partition_footer_rows"]
