"""Hypothesis property tests over the kernels (SURVEY.md §5.2-1):
machine-generated edge cases beyond the seeded-random suites."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from s2spark.geometry import (
    CellUnion,
    cid_all_neighbors,
    cid_contains,
    cid_from_lat_lng,
    cid_level,
    cid_parent,
    cid_range_max,
    cid_range_min,
)
from s2spark.kernels import cellops as C
from s2spark.kernels import hilbert as H

lat_st = st.floats(min_value=-90.0, max_value=90.0,
                   allow_nan=False, allow_infinity=False)
lng_st = st.floats(min_value=-180.0, max_value=180.0,
                   allow_nan=False, allow_infinity=False)
level_st = st.integers(min_value=0, max_value=30)


@settings(max_examples=300, deadline=None)
@given(lat_st, lng_st)
def test_encode_decode_fixpoint(lat, lng):
    ids = H.lat_lng_to_cell_id(np.array([lat]), np.array([lng]))
    assert C.is_valid(ids).all()
    la2, ln2 = H.cell_id_to_lat_lng(ids)
    assert (H.lat_lng_to_cell_id(la2, ln2) == ids).all()


@settings(max_examples=300, deadline=None)
@given(lat_st, lng_st, level_st)
def test_parent_range_laws(lat, lng, lvl):
    leaf = cid_from_lat_lng(lat, lng)
    p = cid_parent(leaf, lvl)
    assert cid_level(p) == lvl
    assert cid_contains(p, leaf)
    assert cid_range_min(p) <= leaf <= cid_range_max(p)
    # monotone nesting up the lattice
    for coarser in (0, lvl // 2):
        assert cid_contains(cid_parent(leaf, coarser), p)


@settings(max_examples=150, deadline=None)
@given(lat_st, lng_st, st.integers(min_value=1, max_value=14))
def test_neighbor_symmetry(lat, lng, lvl):
    c = cid_parent(cid_from_lat_lng(lat, lng), lvl)
    for nbr in cid_all_neighbors(c, lvl):
        assert cid_level(nbr) == lvl
        assert c in cid_all_neighbors(nbr, lvl)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(lat_st, lng_st, st.integers(2, 12)),
                min_size=1, max_size=12))
def test_cellunion_normalize_properties(specs):
    ids = [cid_parent(cid_from_lat_lng(la, ln), lvl)
           for la, ln, lvl in specs]
    u = CellUnion(ids)
    # covers every input cell
    for cid in ids:
        assert u.contains_cellid(cid)
    # no cell contains another (normalized)
    for i, a in enumerate(u.ids):
        for b in u.ids[i + 1:]:
            assert not cid_contains(a, b) and not cid_contains(b, a)
    # idempotent + leaf-count conservation under re-normalization
    again = CellUnion(u.ids)
    assert again.ids == u.ids


@settings(max_examples=200, deadline=None)
@given(lat_st, lng_st)
def test_token_roundtrip_prop(lat, lng):
    leaf = np.array([cid_from_lat_lng(lat, lng)], dtype=np.uint64)
    for lvl in (0, 7, 15, 30):
        c = C.parent(leaf, lvl)
        assert (C.from_token(C.to_token(c)) == c).all()


# covering cells at mixed levels: (face, 60-bit leaf position, level),
# with the face-boundary positions drawn often
_pos_st = st.one_of(st.integers(0, (1 << 60) - 1),
                    st.sampled_from([0, 1, (1 << 60) - 2, (1 << 60) - 1]))
_cell_st = st.tuples(st.integers(0, 5), _pos_st, level_st)


def _cell_ranges(cells):
    leaves = np.array([(f << 61) | (p << 1) | 1 for f, p, _ in cells],
                      dtype=np.uint64)
    ids = np.array([C.parent(leaf, lvl) for leaf, (_, _, lvl)
                    in zip(leaves, cells)], dtype=np.uint64)
    return list(zip(C.range_min(ids).tolist(), C.range_max(ids).tolist()))


@settings(max_examples=300, deadline=None)
@given(st.lists(_cell_st, min_size=0, max_size=40),
       st.lists(st.tuples(st.integers(0, 5), _pos_st), max_size=20))
def test_merge_leaf_ranges_keeps_leaf_membership(cells, probes):
    from s2spark.io import merge_leaf_ranges

    ranges = _cell_ranges(cells)
    merged = merge_leaf_ranges(ranges)

    # sorted, disjoint, and no two outputs could still merge
    for lo, hi in merged:
        assert lo <= hi
    for (_, hi), (lo, _) in zip(merged, merged[1:]):
        assert lo > hi + 2

    # membership only changes at range ends, so probing every end and
    # its neighbouring leaf ids (plus random leaves) covers it
    leaves = {(f << 61) | (p << 1) | 1 for f, p in probes}
    for lo, hi in ranges:
        leaves.update(x for x in (lo - 2, lo, hi, hi + 2)
                      if 0 < x < (1 << 64))

    def member(rs, x):
        return any(lo <= x <= hi for lo, hi in rs)

    for x in leaves:
        assert member(ranges, x) == member(merged, x), hex(x)
