"""filters.reprojection parity: numpy oracle, drop-on-failure, roundtrip."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdal_spark import geo, synth
from pdal_spark.operators import reprojection as rp


def test_forward_matches_numpy(spark):
    df = synth.synth_points(spark, 300)
    out = rp.reproject(df, "EPSG:4326", "EPSG:3857").toPandas().sort_values("page_id")
    ids = np.arange(300)
    xs, ys = geo.geocode_lcg_np(ids)
    mx, my, ok = rp.reproject_np(xs, ys)
    assert list(out["page_id"]) == list(ids[ok])
    np.testing.assert_allclose(out["x"], mx, rtol=1e-12)
    np.testing.assert_allclose(out["y"], my, rtol=1e-12)


def test_drop_on_failure(spark):
    rows = [(0, 0.0, 89.9), (1, 10.0, 45.0), (2, -5.0, -89.0), (3, 7.0, 85.0)]
    df = spark.createDataFrame(rows, "page_id long, x double, y double")
    out = rp.reproject(df, "EPSG:4326", "EPSG:3857").toPandas()
    # lat 89.9 and -89.0 are beyond the Mercator cutoff (85.051...) -> dropped
    assert set(out["page_id"]) == {1, 3}


def test_roundtrip_identity(spark):
    df = synth.synth_points(spark, 200).filter(
        (F.col("y") > -85.0) & (F.col("y") < 85.0)
    )
    back = rp.reproject(
        rp.reproject(df, "EPSG:4326", "EPSG:3857"), "EPSG:3857", "EPSG:4326"
    ).toPandas().sort_values("page_id")
    orig = df.toPandas().sort_values("page_id")
    np.testing.assert_allclose(back["x"], orig["x"], atol=1e-9)
    np.testing.assert_allclose(back["y"], orig["y"], atol=1e-9)


def test_unknown_pair_raises(spark):
    df = synth.synth_points(spark, 5)
    # a projected CRS outside the EPSG table (OSGB, EPSG:27700) raises
    with pytest.raises(ValueError, match="no built-in transform"):
        rp.reproject(df, "EPSG:4326", "EPSG:27700")


# --- UTM (EPSG:326xx/327xx) --------------------------------------------------


def test_utm_meridian_arc_independent_oracle():
    """Northing on the central meridian == k0 * meridian arc, where the
    arc comes from direct numeric integration of the ellipsoid integral
    — independent of the Snyder series the kernel uses."""
    import math

    import numpy as np

    from pdal_spark.operators import reprojection as rp

    # WGS 84 ellipsoid
    a, f = 6378137.0, 1.0 / 298.257223563
    e2 = f * (2.0 - f)

    def arc(phi_deg):
        t = np.linspace(0, math.radians(phi_deg), 400001)
        f = a * (1 - e2) / np.power(1 - e2 * np.sin(t) ** 2, 1.5)
        return np.trapz(f, t)

    for lat in (15.0, 45.0, 70.0):
        _, n, _ = rp.reproject_np(
            np.array([3.0]), np.array([lat]), "EPSG:4326", "EPSG:32631"
        )
        assert abs(n[0] - 0.9996 * arc(lat)) < 1e-2
    # equator/CM anchor + symmetry about the CM
    e, n, _ = rp.reproject_np(np.array([3.0]), np.array([0.0]),
                              "EPSG:4326", "EPSG:32631")
    assert e[0] == 500000.0 and n[0] == 0.0
    e1, n1, _ = rp.reproject_np(np.array([5.0]), np.array([40.0]),
                                "EPSG:4326", "EPSG:32631")
    e2_, n2, _ = rp.reproject_np(np.array([1.0]), np.array([40.0]),
                                 "EPSG:4326", "EPSG:32631")
    assert abs((e1[0] - 500000.0) - (500000.0 - e2_[0])) < 1e-9
    assert n1[0] == n2[0]


def test_utm_spark_matches_numpy_and_drops(spark):
    import numpy as np
    import pandas as pd

    from pdal_spark import geo as geo_mod
    from pdal_spark.operators import reprojection as rp

    ids = np.arange(300)
    xs, ys = geo_mod.geocode_lcg_np(ids)
    df = spark.createDataFrame(pd.DataFrame({"page_id": ids, "x": xs, "y": ys}))
    out = (
        rp.reproject(df, "EPSG:4326", "EPSG:32631")
        .toPandas().sort_values("page_id")
    )
    ee, nn, ok = rp.reproject_np(xs, ys, "EPSG:4326", "EPSG:32631")
    assert list(out.page_id) == list(ids[ok])  # drop-on-failure rows
    np.testing.assert_allclose(out.x, ee, rtol=0, atol=1e-6)
    np.testing.assert_allclose(out.y, nn, rtol=0, atol=1e-6)


def test_utm_south_zone_false_northing():
    import numpy as np

    from pdal_spark.operators import reprojection as rp

    _, n_n, _ = rp.reproject_np(np.array([3.0]), np.array([-30.0]),
                                "EPSG:4326", "EPSG:32631")
    _, n_s, _ = rp.reproject_np(np.array([3.0]), np.array([-30.0]),
                                "EPSG:4326", "EPSG:32731")
    assert abs((n_s[0] - n_n[0]) - 10000000.0) < 1e-6


def test_proj_pipeline_chain(spark):
    """4326 -> 3857 -> 4326 -> UTM31N chained through reproject equals
    the direct UTM transform (round-trip via Mercator is closed-form
    exact up to fp)."""
    import numpy as np
    import pandas as pd

    from pdal_spark import geo as geo_mod

    ids = np.arange(200)
    xs, ys = geo_mod.geocode_lcg_np(ids)
    df = spark.createDataFrame(pd.DataFrame({"page_id": ids, "x": xs, "y": ys}))
    chained = df
    for in_srs, out_srs in [("EPSG:4326", "EPSG:3857"),
                            ("EPSG:3857", "EPSG:4326"),
                            ("EPSG:4326", "EPSG:32631")]:
        chained = rp.reproject(chained, in_srs, out_srs)
    chained = chained.toPandas().sort_values("page_id")
    direct = rp.reproject(df, "EPSG:4326", "EPSG:32631") \
        .toPandas().sort_values("page_id")
    # the Mercator stage drops |lat| >= 85.05 first; the geocoded points
    # have none of those and none in the 85.05-85.5 band the UTM guard
    # keeps, so both paths keep the same rows
    assert list(chained.page_id) == list(direct.page_id)
    np.testing.assert_allclose(chained.x, direct.x, atol=1e-6)
    np.testing.assert_allclose(chained.y, direct.y, atol=1e-6)


# --- Lambert conformal conic (EPSG:2154 / EPSG:3347) -------------------------


def test_lcc_scale_factor_independent_oracle():
    """Conformal-property oracle, independent of the Snyder constants:
    the local scale along the central meridian (finite-difference
    projected distance over the numerically-integrated ellipsoid
    meridian arc) must be exactly 1 at BOTH standard parallels, < 1
    between them, > 1 outside — the defining property of a secant
    conic."""
    import math

    import numpy as np

    # Lambert-93: GRS80, standard parallels 44 and 49, lon_0 3
    a, f = 6378137.0, 1.0 / 298.257222101
    e2 = f * (2.0 - f)
    lon0, lat1, lat2 = 3.0, 49.0, 44.0

    def arc(lo, hi):
        t = np.linspace(math.radians(lo), math.radians(hi), 200001)
        f = a * (1 - e2) / np.power(1 - e2 * np.sin(t) ** 2, 1.5)
        return np.trapz(f, t)

    def k_at(lat):
        d = 0.001
        (e1, n1, _) = rp.reproject_np(
            np.array([lon0]), np.array([lat - d / 2]),
            "EPSG:4326", "EPSG:2154")
        (e2_, n2, _) = rp.reproject_np(
            np.array([lon0]), np.array([lat + d / 2]),
            "EPSG:4326", "EPSG:2154")
        proj = math.hypot(e2_[0] - e1[0], n2[0] - n1[0])
        return proj / arc(lat - d / 2, lat + d / 2)

    assert abs(k_at(lat1) - 1.0) < 1e-6
    assert abs(k_at(lat2) - 1.0) < 1e-6
    assert k_at((lat1 + lat2) / 2) < 1.0 - 1e-5
    assert k_at(max(lat1, lat2) + 4.0) > 1.0 + 1e-5


def test_lcc_anchors_and_known_point():
    """Central-meridian easting == FE exactly; (lon0, lat0) == (FE, FN)
    exactly; Paris lands on its published Lambert-93 coordinate."""
    import numpy as np

    # Lambert-93 natural origin and false easting/northing
    lon0, lat0, fe, fn = 3.0, 46.5, 700000.0, 6600000.0
    e, n, _ = rp.reproject_np(np.array([lon0]), np.array([lat0]),
                              "EPSG:4326", "EPSG:2154")
    assert abs(e[0] - fe) < 1e-6 and abs(n[0] - fn) < 1e-6
    e, n, _ = rp.reproject_np(np.array([lon0]), np.array([41.7]),
                              "EPSG:4326", "EPSG:2154")
    assert abs(e[0] - fe) < 1e-6
    # Paris (2.3522 E, 48.8566 N) ~ (652470, 6862035) in Lambert-93
    e, n, _ = rp.reproject_np(np.array([2.3522]), np.array([48.8566]),
                              "EPSG:4326", "EPSG:2154")
    assert abs(e[0] - 652470.0) < 100 and abs(n[0] - 6862035.0) < 100


def test_lcc_spark_matches_numpy_and_sql(spark):
    """Engine == numpy oracle == DuckDB twin, with drop-on-failure."""
    import duckdb
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    xs = rng.uniform(-10.0, 15.0, 300)
    ys = rng.uniform(35.0, 55.0, 300)
    xs[0], ys[0] = 120.0, 45.0   # beyond the dlon cutoff -> dropped
    xs[1], ys[1] = 3.0, 89.9     # pole cutoff -> dropped
    pdf = pd.DataFrame({"page_id": np.arange(300), "x": xs, "y": ys})
    df = spark.createDataFrame(pdf)
    out = rp.reproject(df, "EPSG:4326", "EPSG:3347").toPandas() \
        .sort_values("page_id")
    e, n, ok = rp.reproject_np(xs, ys, "EPSG:4326", "EPSG:3347")
    assert list(out["page_id"]) == list(np.arange(300)[ok])
    np.testing.assert_allclose(out["x"], e, rtol=1e-12)
    np.testing.assert_allclose(out["y"], n, rtol=1e-12)
    xs_sql, ys_sql, w = rp.reproject_sql("EPSG:4326", "EPSG:3347")
    con = duckdb.connect()
    con.register("pts", pdf)
    ora = con.sql(
        f"SELECT page_id, {xs_sql} AS x, {ys_sql} AS y FROM pts "
        f"WHERE {w} ORDER BY page_id"
    ).df()
    np.testing.assert_allclose(out["x"].to_numpy(), ora["x"], rtol=1e-12)
    np.testing.assert_allclose(out["y"].to_numpy(), ora["y"], rtol=1e-12)


def test_drop_guards(spark):
    """One drop guard per family, the same through every front end:
    UTM keeps |lat| < 85.5 (PROJ's tmerc succeeds there), LCC keeps
    |dlon| < 90 and |lat| < 89.5, and 3857 keeps its square-world edge
    at 85.0511."""
    import duckdb
    import pandas as pd

    cases = {"EPSG:32631": [(3.0, 85.3, True), (3.0, 85.6, False)],
             "EPSG:2154": [(78.0, 46.0, True), (3.0, 89.6, False)],
             "EPSG:3857": [(0.0, 85.0, True), (0.0, 85.1, False)]}
    con = duckdb.connect()
    for code, rows in cases.items():
        pdf = pd.DataFrame({"page_id": range(len(rows)),
                            "x": [r[0] for r in rows],
                            "y": [r[1] for r in rows]})
        want = [i for i, r in enumerate(rows) if r[2]]
        got = rp.reproject(spark.createDataFrame(pdf), "EPSG:4326", code)
        assert sorted(r.page_id for r in got.collect()) == want, code
        _, _, ok = rp.reproject_np(pdf.x.values, pdf.y.values,
                                   "EPSG:4326", code)
        assert list(np.nonzero(ok)[0]) == want, code
        _, _, w = rp.reproject_sql("EPSG:4326", code)
        con.register("pts", pdf)
        kept = con.sql(f"SELECT page_id FROM pts WHERE {w} "
                       f"ORDER BY page_id").df()
        assert list(kept.page_id) == want, code
