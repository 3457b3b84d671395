"""Lockstep batch walks must equal the scalar reference kernels exactly."""

import math

import numpy as np
import pytest

from polycheck_spark.geo import kernel as K
from polycheck_spark.geo import kernel_batch as KB


def _random_cases(seed, n, h, w, occ_density=0.15):
    rng = np.random.RandomState(seed)
    grid = np.zeros((h, w), dtype=np.float32)
    m = rng.rand(h, w) < occ_density
    grid[m] = rng.rand(m.sum()).astype(np.float32)
    # include out-of-bounds endpoints to exercise the bounds branches
    sx = rng.randint(-2, w + 2, n)
    sy = rng.randint(-2, h + 2, n)
    ex = rng.randint(-2, w + 2, n)
    ey = rng.randint(-2, h + 2, n)
    return grid, sx, sy, ex, ey


def test_sum_batch_equals_scalar():
    for seed in range(5):
        grid, sx, sy, ex, ey = _random_cases(seed, 400, 15 + seed, 20)
        got = KB.bresenham_batch(grid, sx, sy, ex, ey, "sum")
        exp = np.array([K.line_observation_sum(grid, a, b, c, d)
                        for a, b, c, d in zip(sx, sy, ex, ey)], dtype=np.float32)
        assert np.array_equal(got, exp), seed


def test_sum_batch_rejects_max_range():
    """The scalar sum walk has no range rule, so the batch one takes none."""
    grid, sx, sy, ex, ey = _random_cases(0, 10, 8, 8)
    with pytest.raises(ValueError):
        KB.bresenham_batch(grid, sx, sy, ex, ey, "sum", max_range=1)


def test_product_batch_equals_scalar():
    for seed in range(5):
        # product walk has no bounds checks in the reference -> in-grid only
        rng = np.random.RandomState(100 + seed)
        h, w = 18, 22
        grid = np.zeros((h, w), dtype=np.float32)
        m = rng.rand(h, w) < 0.2
        grid[m] = rng.rand(m.sum()).astype(np.float32)
        n = 400
        sx = rng.randint(0, w, n)
        sy = rng.randint(0, h, n)
        ex = rng.randint(0, w, n)
        ey = rng.randint(0, h, n)
        for mr in (0, 1, 3, 7, 15):
            got = KB.bresenham_batch(grid, sx, sy, ex, ey, "product", mr)
            exp = np.array([K.line_observation(grid, a, b, c, d, mr)
                            for a, b, c, d in zip(sx, sy, ex, ey)], dtype=np.float32)
            assert np.array_equal(got, exp), (seed, mr)


@pytest.mark.parametrize("regime", ["grid", "real"])
def test_sensor_batch_equals_scalar(regime):
    """Both regimes of the one sensor-cell kernel equal the scalar
    kernel.sensor_cell_observation.  Grid sensors sit on, within 1e-6 of,
    and between cell corners, so the epsilon rounding is exercised."""
    rng = np.random.RandomState(3)
    h, w = 12, 14
    grid = np.zeros((h, w), dtype=np.float32)
    m = rng.rand(h, w) < 0.2
    grid[m] = rng.rand(m.sum()).astype(np.float32)
    n = 600
    if regime == "grid":
        origin, res = None, None
        x = rng.randint(0, w, n) + rng.choice([0.0, 1e-6, 0.5, 1 - 1e-6], n)
        y = rng.randint(0, h, n) + rng.choice([0.0, 1e-6, 0.5, 1 - 1e-6], n)
    else:
        origin, res = (-0.5, 0.25), 0.8
        x = rng.uniform(origin[0], origin[0] + w * res, n)
        y = rng.uniform(origin[1], origin[1] + h * res, n)
    ex = rng.randint(0, w, n)
    ey = rng.randint(0, h, n)
    ranges = rng.choice([0.0, 1.0, 3.5, 5.0, 20.0], n)
    drn = rng.uniform(-math.pi, math.pi, n)
    fov = rng.choice([math.pi / 4, math.pi / 2, math.pi, 2 * math.pi], n)
    got = KB.sensor_cell_observation_batch(grid, x, y, ranges, drn, fov, ex, ey,
                                           origin, res)
    exp = np.array([
        K.sensor_cell_observation(grid, (a, b, r, d, f), int(cx), int(cy),
                                  origin=origin, resolution=res)
        for a, b, r, d, f, cx, cy in zip(x, y, ranges, drn, fov, ex, ey)],
        dtype=np.float32)
    assert np.array_equal(got, exp)
    assert 0 < np.count_nonzero(got) < n


def test_real_dda_batch_equals_scalar():
    rng = np.random.RandomState(11)
    h, w = 14, 17
    grid = np.zeros((h, w), dtype=np.float32)
    m = rng.rand(h, w) < 0.2
    grid[m] = rng.rand(m.sum()).astype(np.float32)
    n = 500
    # real coords spanning inside and outside the grid, fractional positions
    sx = rng.uniform(-2, w + 2, n)
    sy = rng.uniform(-2, h + 2, n)
    ex = rng.uniform(-2, w + 2, n)
    ey = rng.uniform(-2, h + 2, n)
    ox, oy, res = -0.5, 0.25, 0.8
    for mr in (0.0, 6.0):
        for mode, scalar in (("product", K.line_real_observation),
                             ("sum", K.line_real_observation_sum)):
            got = KB.dda_batch(grid, ox, oy, res, sx, sy, ex, ey, mode, mr)
            exp = np.array([scalar(grid, h, w, ox, oy, res, a, b, c, d, mr)
                            for a, b, c, d in zip(sx, sy, ex, ey)], dtype=np.float32)
            assert np.array_equal(got, exp), (mode, mr)


def _random_layer(rng, n_polys):
    polys = []
    for _ in range(n_polys):
        cx, cy = rng.uniform(-6, 6, 2)
        r = rng.uniform(0.5, 2.5)
        k = rng.randint(3, 7)
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        polys.append([(cx + r * np.cos(a), cy + r * np.sin(a)) for a in ang])
    return polys


def test_line_range_batch_equals_scalar():
    for seed in range(4):
        rng = np.random.RandomState(200 + seed)
        polys = _random_layer(rng, 1 + seed)
        verts, offs = K.pack_polygons_csr(polys)
        n = 180
        angles = (np.float32(0.05) + np.arange(n, dtype=np.float32)
                  * np.float32(2 * math.pi / n)).astype(np.float32)
        got_r, got_h = KB.line_range_batch(verts, offs, 0.0, 0.0, angles, 8.0, 0.07)
        exp = [K.line_range(verts, offs, 0.0, 0.0, a, 8.0, 0.07) for a in angles]
        exp_r = np.array([np.float32(r) for r, _ in exp], dtype=np.float32)
        exp_h = np.array([h for _, h in exp], dtype=np.int32)
        assert np.array_equal(got_r, exp_r), seed
        assert np.array_equal(got_h, exp_h), seed
        assert (got_h != 0x7FFFFFFF).any(), seed  # some rays actually hit


def test_line_range_batch_empty_and_miss():
    verts, offs = K.pack_polygons_csr([[(100.0, 100.0), (101.0, 100.0), (100.5, 101.0)]])
    r, h = KB.line_range_batch(verts, offs, 0.0, 0.0,
                               np.linspace(0, 1, 5, dtype=np.float32), 3.0, 0.1)
    assert (r == -1.0).all() and (h == 0x7FFFFFFF).all()
    r0, h0 = KB.line_range_batch(verts, np.array([0], dtype=np.int64)[:1],
                                 0.0, 0.0, np.zeros(3, np.float32), 3.0, 0.1)
    assert (r0 == -1.0).all() and (h0 == 0x7FFFFFFF).all()


def test_fov_wrap_is_promotion_independent():
    """The scalar gate's angle wrap must run in float64 under BOTH NumPy
    promotion regimes (value-based 1.x and NEP-50 2.x): wrap_to_pi fed an
    explicit float64 equals the batch twin's float64 wrap bit-for-bit."""
    rng = np.random.RandomState(21)
    for _ in range(200):
        bearing = np.float32(rng.uniform(-math.pi, math.pi))
        direction = np.float32(rng.uniform(-10, 10))
        scalar_wrap = K.wrap_to_pi(np.float64(np.float32(bearing - direction)))
        assert np.asarray(scalar_wrap).dtype == np.float64
        batch_wrap = (np.float64(np.float32(bearing - direction)) + np.pi) \
            % (2.0 * np.pi) - np.pi
        assert scalar_wrap == batch_wrap
    # and the full gates still agree on a randomized sweep
    sx = rng.randint(0, 10, 300).astype(np.float32)
    sy = rng.randint(0, 10, 300).astype(np.float32)
    tx = rng.randint(0, 10, 300).astype(np.float32)
    ty = rng.randint(0, 10, 300).astype(np.float32)
    rngs = rng.choice([3.0, 8.0], 300)
    drn = rng.uniform(-math.pi, math.pi, 300)
    fov = rng.choice([math.pi / 4, math.pi], 300)
    got = KB.in_sensor_fov_batch(sx, sy, tx, ty, rngs, drn, fov)
    exp = np.array([K.in_sensor_fov(a, b, c, d, r, dd, f2)
                    for a, b, c, d, r, dd, f2 in zip(sx, sy, tx, ty, rngs, drn, fov)])
    assert np.array_equal(got, exp)


def test_batch_throughput_sane():
    """The batch walk should be >=10x the scalar loop on a big batch."""
    import time
    grid, sx, sy, ex, ey = _random_cases(7, 20000, 50, 50, 0.05)
    t0 = time.time()
    KB.bresenham_batch(grid, sx, sy, ex, ey, "sum")
    t_batch = time.time() - t0
    t0 = time.time()
    for a, b, c, d in zip(sx[:2000], sy[:2000], ex[:2000], ey[:2000]):
        K.line_observation_sum(grid, a, b, c, d)
    t_scalar = (time.time() - t0) * 10  # extrapolate to 20000
    assert t_batch < t_scalar / 5, (t_batch, t_scalar)
