"""Pin the PIP winding edge rules on boundary cases (FIXTURES.md §4):
points exactly on edges, on vertices, in holes, and ±180-adjacent, verified
differentially against the reference's ``contains`` winding code."""

import numpy as np

from picogeojson_spark.geo.dateline import winding_number
from picogeojson_spark.geo.pip import points_in_geometry, winding_numbers

SQUARE = [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]]

EDGE_CASES = [
    (2.0, 2.0),   # interior
    (2.0, 0.0),   # on bottom edge
    (2.0, 4.0),   # on top edge
    (0.0, 2.0),   # on left edge
    (4.0, 2.0),   # on right edge
    (0.0, 0.0),   # on vertex (bottom-left)
    (4.0, 4.0),   # on vertex (top-right)
    (-1.0, 2.0),  # outside left
    (5.0, 2.0),   # outside right
    (2.0, -1.0),  # outside below
]


def test_edge_rules_match_reference(oracle):
    """The engine's vectorized winding number agrees with the reference's
    scalar winding loop on every boundary case."""
    ref_contains = oracle.antimeridian.contains
    xs = np.array([p[0] for p in EDGE_CASES])
    ys = np.array([p[1] for p in EDGE_CASES])
    vec = winding_numbers(xs, ys, SQUARE)
    for (x, y), wn in zip(EDGE_CASES, vec):
        # scalar kernel parity
        assert winding_number(SQUARE, x, y) == wn, (x, y)
        # reference parity: contains(SQUARE, [pt]) is the any-vertex test on
        # a single point — nonzero winding <=> True (bbox reject can fire
        # first for outside points; both then agree on False)
        ref = ref_contains(SQUARE, [(x, y)])
        assert (wn != 0) == ref, (x, y)


def test_documented_edge_semantics():
    """The exact asymmetric boundary behavior the rules imply — pinned so a
    refactor cannot silently change which boundary points join."""
    xs = np.array([p[0] for p in EDGE_CASES])
    ys = np.array([p[1] for p in EDGE_CASES])
    geom = {"type": "Polygon", "coordinates": [SQUARE]}
    got = points_in_geometry(xs, ys, geom).tolist()
    # with the reference's rules (y0 <= y < y1 upward / y0 >= y > y1 downward,
    # strict left tests) on this CCW square: only the bottom edge and the
    # bottom-left vertex are IN; left, right and top edges are OUT
    assert got == [True, True, False, False, False, True, False,
                   False, False, False]


def test_hole_boundary():
    rings = [
        [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]],
        # hole, CW per RFC winding
        [[3.0, 3.0], [3.0, 7.0], [7.0, 7.0], [7.0, 3.0], [3.0, 3.0]],
    ]
    cases = [
        (5.0, 5.0, False),  # inside hole
        (3.0, 5.0, False),  # on hole's left edge: wn(hole) != 0 -> excluded
        (7.0, 5.0, False),  # on hole's right edge: also wn != 0 -> excluded
        (1.0, 5.0, True),   # in shell, outside hole
    ]
    xs = np.array([c[0] for c in cases])
    ys = np.array([c[1] for c in cases])
    got = points_in_geometry(xs, ys, {"type": "Polygon", "coordinates": rings})
    assert got.tolist() == [c[2] for c in cases]


def test_dateline_adjacent():
    """Points ±180-adjacent against the reference's dateline polygon, cut."""
    from picogeojson_spark.geo import cut_dateline, make_polygon

    poly = cut_dateline(
        make_polygon([[(172, -20), (-179, -20), (-177, -25), (172, -25), (172, -20)]])
    )
    cases = [
        (179.5, -22.0, True),    # west of the line, inside
        (-179.5, -21.0, True),   # east of the line, inside
        (-176.0, -22.0, False),  # east of the eastern lobe
        (170.0, -22.0, False),   # west of the western lobe
        # both cut boundaries are exclusive (they are right/left edges of
        # their parts under the winding rules) — no double-counting and no
        # gap points join twice after a split
        (180.0, -22.0, False),
        (-180.0 + 1e-8, -22.0, False),
    ]
    xs = np.array([c[0] for c in cases])
    ys = np.array([c[1] for c in cases])
    got = points_in_geometry(xs, ys, poly)
    assert got.tolist() == [c[2] for c in cases]
