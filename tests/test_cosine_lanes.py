"""The thresholded-cosine family: ``round(cosine, 6) >= threshold``,
where a NaN cosine and a zero vector never match.

Each lane defines it once: the numpy lane in
``similarity._cosine_slabs`` (the three Arrow kernels), the Catalyst
lane in ``similarity._cosine_verified`` (the four sql sites).  The
tests here need no SparkSession: the slab helper and the kernels are
checked against a per-pair brute force with slabs smaller than the
group on both axes, and an AST scan pins each definition to one
function.
"""

from __future__ import annotations

import ast
import itertools
import pathlib

import numpy as np
import pandas as pd
import pytest

from pydiverse_transform_spark.extras import similarity as sim

_NAN = float("nan")


def _vectors(n, seed, dim=6):
    """n vectors around a few directions (so pairs hit), with a NaN
    component row and a zero vector among them."""
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(4, dim))
    out = [list(base[i % 4] + rng.normal(size=dim) * 0.3)
           for i in range(n)]
    out[2][1] = _NAN
    out[5] = [0.0] * dim
    return out


def _brute(va, vb, threshold):
    """{(i, j): cos} of every pair whose rounded cosine reaches the
    threshold, one pair at a time; vb=None = pairs i < j of va."""
    pairs = (itertools.combinations(range(len(va)), 2) if vb is None
             else itertools.product(range(len(va)), range(len(vb))))
    vb = va if vb is None else vb
    out = {}
    for i, j in pairs:
        a, b = np.asarray(va[i]), np.asarray(vb[j])
        den = np.sqrt(a @ a) * np.sqrt(b @ b)
        if den == 0 or np.isnan(den):
            continue
        cos = round(float(a @ b / den), 6)
        if cos >= threshold:
            out[(i, j)] = cos
    return out


def _slab_hits(va, vb, threshold, **blocks):
    out = {}
    for s, c, hit, cos in sim._cosine_slabs(va, vb, threshold, **blocks):
        for r, k in zip(*np.nonzero(hit)):
            assert (s + r, c + k) not in out   # each pair in one slab
            out[(s + r, c + k)] = cos[r, k]
    return out


def _same(got, want):
    assert set(got) == set(want)
    assert all(abs(got[p] - want[p]) <= 1e-6 for p in want)


def test_cosine_slabs_cross_matches_brute_force():
    va, vb = _vectors(17, 1), _vectors(23, 2)
    want = _brute(va, vb, 0.5)
    # the NaN-component row 2 and the zero vector 5 never match
    assert want and not any({i, j} & {2, 5} for i, j in want)
    _same(_slab_hits(va, vb, 0.5, row_block=3, col_block=5), want)
    # the default slab covers the whole group
    _same(_slab_hits(va, vb, 0.5), want)


def test_cosine_slabs_triangle_matches_brute_force():
    va = _vectors(19, 3)
    want = _brute(va, None, 0.5)
    assert want and all(i < j for i, j in want)
    for blocks in ({"row_block": 3, "col_block": 5},
                   {"row_block": 5, "col_block": 3},
                   {"row_block": 4, "col_block": 4}, {}):
        _same(_slab_hits(va, None, 0.5, **blocks), want)


def test_cosine_slabs_empty_and_single_groups():
    one = _vectors(8, 4)[:1]
    assert list(sim._cosine_slabs([], None, 0.5)) == []
    assert list(sim._cosine_slabs(one, [], 0.5)) == []
    assert _slab_hits(one, None, 0.5) == {}


_IDS = {"long": lambda n, off: [10**12 + 7 * i + off for i in range(n)],
        "string": lambda n, off: [f"doc-{off}-{i:03d}" for i in range(n)]}


@pytest.mark.parametrize("kind", list(_IDS))
def test_pairs_kernel_triangle_and_cross_blocks(kind):
    va = _vectors(19, 5)
    ids = _IDS[kind](19, 0)[::-1]          # unsorted input order
    kernel = sim._pairs_numpy_kernel(0.5, "vid", "emb", block=4)
    got = kernel(pd.DataFrame({"vid": ids, "emb": va}))
    want = {tuple(sorted((ids[i], ids[j]))): cos
            for (i, j), cos in _brute(va, None, 0.5).items()}
    assert list(got.columns) == ["id_a", "id_b", "cos_sim"]
    assert (got["id_a"] < got["id_b"]).all()
    _same({(a, b): c for a, b, c in got.itertuples(index=False)}, want)
    # an off-diagonal salted block: A x B cross product, canonical ids
    vb, idb = _vectors(11, 6), _IDS[kind](11, 1)
    block = pd.DataFrame({"vid": ids + idb, "emb": va + vb,
                          "__side": [0] * 19 + [1] * 11,
                          "__bi": 0, "__bj": 1})
    got = kernel(block)
    want = {tuple(sorted((ids[i], idb[j]))): cos
            for (i, j), cos in _brute(va, vb, 0.5).items()}
    assert want
    _same({(a, b): c for a, b, c in got.itertuples(index=False)}, want)


@pytest.mark.parametrize("kind", list(_IDS))
def test_hit_pairs_kernel_matches_brute_force(kind):
    va, vb = _vectors(17, 7), _vectors(23, 8)
    ia, ib = _IDS[kind](17, 0), _IDS[kind](23, 1)
    pdf = pd.DataFrame({"__id": ia + ib, "__v": va + vb,
                        "__side": [0] * 17 + [1] * 23})
    got = sim._hit_pairs_numpy_kernel(0.5, block=4)(pdf)
    want = {(ia[i], ib[j]) for i, j in _brute(va, vb, 0.5)}
    assert want
    assert set(got.itertuples(index=False, name=None)) == want
    assert len(got) == len(want)


def test_components_kernel_matches_brute_force_closure():
    va = _vectors(19, 9)
    ids = _IDS["long"](19, 0)
    parent = list(range(19))

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for i, j in _brute(va, None, 0.5):
        ri, rj = find(i), find(j)
        parent[max(ri, rj)] = min(ri, rj)
    want = {(ids[i], ids[find(i)]) for i in range(19) if find(i) != i}
    assert want
    for block in (3, 4, 2048):
        kernel = sim._cell_components_kernel(0.5, "vid", "emb", block=block)
        got = kernel(pd.DataFrame({"vid": ids[::-1], "emb": va[::-1]}))
        assert set(got.itertuples(index=False, name=None)) == want


# ---------------------------------------------------------------------------
# one definition per lane, pinned on the source
# ---------------------------------------------------------------------------

def _top_functions_where(pred):
    tree = ast.parse(pathlib.Path(sim.__file__).read_text())
    return sorted(fn.name for fn in tree.body
                  if isinstance(fn, ast.FunctionDef)
                  and any(pred(n) for n in ast.walk(fn)))


def _is_call(node, attr):
    return (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == attr)


def _rounded_matmul(node):
    """``np.round(<... @ ...>, 6)``: the numpy lane's rounded cosine."""
    return _is_call(node, "round") and any(
        isinstance(n, ast.BinOp) and isinstance(n.op, ast.MatMult)
        for a in node.args for n in ast.walk(a))


def _nan_guarded_threshold(node):
    """``.filter(~isnan(c) & (c >= threshold))``: the sql lane's
    verifier."""
    if not _is_call(node, "filter"):
        return False
    inner = [n for a in node.args for n in ast.walk(a)]
    return (any(_is_call(n, "isnan") for n in inner)
            and any(isinstance(n, ast.Compare)
                    and isinstance(n.ops[0], ast.GtE) for n in inner))


def test_each_lane_defines_the_thresholded_cosine_once():
    assert _top_functions_where(_rounded_matmul) == ["_cosine_slabs"]
    assert _top_functions_where(_nan_guarded_threshold) == \
        ["_cosine_verified"]
