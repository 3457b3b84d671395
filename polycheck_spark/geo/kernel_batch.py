"""Lockstep-vectorized ray walks: many rays advance together.

The scalar kernels in geo/kernel.py are the semantic anchor (one ray at a
time, exactly the reference control flow).  At scale a sensors x cells cross
join produces millions of rays per Arrow batch, and a Python-level loop over
rays caps throughput at ~10^5 rays/s/core.  These batch versions advance ALL
rays one step per NumPy pass (masked), so the per-step cost is a handful of
vector ops over the active rays — the same parallelization the reference
gets from one-thread-per-ray on the GPU (polycheck.py:711-750), re-expressed
as SIMD-over-rays.

One batch kernel per traversal, with the ``mode`` of its SQL twin in
data/walk_oracles.py: :func:`bresenham_batch` (integer grid) and
:func:`dda_batch` (world coordinates), each ``"product"`` (transmittance) or
``"sum"`` (sum-blocking clear probability).
:func:`sensor_cell_observation_batch` is the per-(sensor, cell) kernel of
both regimes and :func:`line_range_batch` marches faux-scan rays.  A walk
keeps its live rays in one namespace of per-ray arrays (:func:`_live`);
finished rays leave it through the one compaction, :func:`_retire`.

Exactness: state transitions replicate the scalar kernels branch for branch
(including early-break order); tests/test_kernel_batch.py asserts equality
against the scalar versions over randomized grids and endpoints.
"""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np

from polycheck_spark.geo.kernel import FLT_EPSILON, contains

_MODES = ("product", "sum")
_F32_MAX = np.float32(np.finfo(np.float32).max)


def _outside(x, y, width, height):
    return (x < 0) | (x >= width) | (y < 0) | (y >= height)


def _clear(blocked):
    """Sum-walk value of a ray that arrives with float32 blocking sum
    ``blocked``: clamp01(1 - blocked)."""
    f = np.float32
    return np.minimum(f(1.0), np.maximum(f(0.0), f(1.0) - blocked))


def _live(idx, **state):
    """A walk's live set: output slots ``idx`` plus each per-ray state array
    cut to those rays (fancy indexing copies, so walks update in place)."""
    return SimpleNamespace(idx=idx, **{k: a[idx] for k, a in state.items()})


def _retire(out, rays, done, values):
    """The one compaction both walks use: write ``values`` (a scalar, or one
    per ``done`` ray) to the ``done`` rays' ``out`` slots and cut every array
    of ``rays`` to the survivors.  Walks call it only on a step where some
    ray ends: compacting on every step was 25-45 % slower.  Returns the
    number of rays still live."""
    out[rays.idx[done]] = values
    keep = ~done
    state = vars(rays)
    for name, a in state.items():
        # one array at a time, so each old array is freed before the next
        # is cut: cutting all first and swapping after was ~10 % slower
        state[name] = a[keep]
    return len(rays.idx)


def bresenham_batch(data, sx, sy, ex, ey, mode, max_range=0) -> np.ndarray:
    """Vectorized twin of kernel.line_observation (``mode="product"``) and
    kernel.line_observation_sum (``mode="sum"``); bresenham_oracle_sql is
    their SQL twin.  Destination excluded in both.

    product: float64 transmittance, zero below 2*FLT_EPSILON, ``max_range``
    counts steps (0 = unlimited), no bounds checks.
    sum: float32 blocking sum, zero for out-of-grid ends or cells and at a
    sum >= 1.  The scalar sum walk has no range rule, so ``max_range > 0``
    raises rather than invent one.
    """
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {_MODES}, not {mode!r}")
    product = mode == "product"
    if not product and max_range > 0:
        raise ValueError("the sum walk has no max_range")
    acc_dtype = np.float64 if product else np.float32
    data = np.asarray(data, dtype=np.float32)
    height, width = data.shape
    flat = data.ravel().astype(acc_dtype)
    sx, sy, ex, ey = (np.asarray(a, dtype=np.int64) for a in (sx, sy, ex, ey))
    n = len(sx)
    out = np.zeros(n, dtype=acc_dtype)
    oob = np.zeros(n, dtype=bool) if product else \
        _outside(sx, sy, width, height) | _outside(ex, ey, width, height)
    same = (sx == ex) & (sy == ey) & ~oob
    out[same] = 1.0

    dx = np.abs(sx - ex)
    dy = -np.abs(sy - ey)
    rays = _live(np.flatnonzero(~(same | oob)), sx=sx, sy=sy, ex=ex, ey=ey,
                 dx=dx, dy=dy, step_x=np.where(sx < ex, 1, -1),
                 step_y=np.where(sy < ey, 1, -1), error=dx + dy,
                 acc=np.full(n, 1.0 if product else 0.0, dtype=acc_dtype))
    settle = (lambda acc: acc) if product else _clear
    steps = 0  # lockstep: every live ray has taken the same number of steps
    eps2 = float(FLT_EPSILON) * 2.0
    # The reference's arrival test at the head of its loop is the previous
    # step's arrival test below (no ray starts at its target), so it runs
    # once per step here.
    while len(rays.idx):
        e2 = 2 * rays.error
        move_x = e2 >= rays.dy
        move_y = e2 <= rays.dx
        # A ray due to step x at its target column ends, as does one due to
        # step y at its target row.  Letting it move anyway is harmless: its
        # value does not depend on its cell, and it retires before the read.
        hit = (move_x & (rays.sx == rays.ex)) | (move_y & (rays.sy == rays.ey))
        rays.error[move_x] += rays.dy[move_x]
        rays.sx[move_x] += rays.step_x[move_x]
        rays.error[move_y] += rays.dx[move_y]
        rays.sy[move_y] += rays.step_y[move_y]
        # arrival after the move: the destination is not accumulated
        hit |= (rays.sx == rays.ex) & (rays.sy == rays.ey)
        ended = hit if product else hit | _outside(rays.sx, rays.sy, width, height)
        if ended.any() and not _retire(
                out, rays, ended,
                np.where(hit[ended], settle(rays.acc[ended]), 0.0)):
            break
        steps += 1
        if max_range > 0 and steps > max_range:
            break  # every live ray is out of range and keeps its 0
        if product:
            rays.acc *= 1.0 - flat[rays.sy * width + rays.sx]
            dead = rays.acc < eps2
        else:
            rays.acc += flat[rays.sy * width + rays.sx]
            dead = rays.acc >= np.float32(1.0)
        if dead.any():
            _retire(out, rays, dead, 0.0)
    return out.astype(np.float32, copy=False)


def _dda_state(src_x, src_y, end_x, end_y, origin_x, origin_y, resolution,
               max_range, height, width, check_end_cell: bool):
    """Vectorized Amanatides-Woo setup, float32-exact to kernel._dda_setup.

    Returns (out, rays): rays that end before the first step (range-reject,
    zero-magnitude, out-of-grid starts/ends, same-cell) already have their
    final value in ``out``; ``rays`` is the live set of the rest.
    """
    f = np.float32
    src_x = np.asarray(src_x, f)
    src_y = np.asarray(src_y, f)
    end_x = np.asarray(end_x, f)
    end_y = np.asarray(end_y, f)
    res = f(resolution)
    ox, oy = f(origin_x), f(origin_y)
    n = len(src_x)
    out = np.zeros(n, dtype=f)
    done = np.zeros(n, dtype=bool)

    dx = (end_x - src_x).astype(f)
    dy = (end_y - src_y).astype(f)
    magnitude = np.sqrt((dx * dx + dy * dy).astype(f)).astype(f)
    mr = np.broadcast_to(np.asarray(max_range, np.float64), (n,))
    rej = (mr > 0.0) & (magnitude > mr.astype(f))
    done |= rej  # out stays 0
    zero_mag = (~done) & (np.abs(magnitude) <= FLT_EPSILON)
    if zero_mag.any():
        scx = np.floor(((src_x - ox) / res).astype(f)).astype(np.int64)
        scy = np.floor(((src_y - oy) / res).astype(f)).astype(np.int64)
        out[zero_mag & ~_outside(scx, scy, width, height)] = 1.0
        done |= zero_mag

    with np.errstate(divide="ignore", invalid="ignore"):
        ndx = (dx / magnitude).astype(f)
        ndy = (dy / magnitude).astype(f)
    rx = ((src_x - ox) / res).astype(f)
    ry = ((src_y - oy) / res).astype(f)
    sx = np.floor(rx).astype(np.int64)
    sy = np.floor(ry).astype(np.int64)
    done |= _outside(sx, sy, width, height)

    ex = np.floor(((end_x - ox) / res).astype(f)).astype(np.int64)
    ey = np.floor(((end_y - oy) / res).astype(f)).astype(np.int64)
    if check_end_cell:
        done |= _outside(ex, ey, width, height)
    same = (~done) & (sx == ex) & (sy == ey)
    out[same] = 1.0
    done |= same

    def axis(d, rc):
        zero = np.abs(d) <= FLT_EPSILON
        pos = d > 0
        step = np.where(zero, 0, np.where(pos, 1, -1)).astype(np.int64)
        frac_pos = ((np.floor(rc).astype(f) + f(1.0) - rc).astype(f) * res).astype(f)
        frac_neg = ((rc - np.floor(rc).astype(f)).astype(f) * res).astype(f)
        with np.errstate(divide="ignore", invalid="ignore"):
            t_max = np.where(zero, _F32_MAX,
                             np.where(pos, (frac_pos / d).astype(f),
                                      (frac_neg / (-d).astype(f)).astype(f))).astype(f)
            t_delta = np.where(zero, _F32_MAX,
                               np.where(pos, (res / d).astype(f),
                                        (res / (-d).astype(f)).astype(f))).astype(f)
        return step, t_max, t_delta

    step_x, t_max_x, t_delta_x = axis(ndx, rx)
    step_y, t_max_y, t_delta_y = axis(ndy, ry)
    return out, _live(np.flatnonzero(~done), sx=sx, sy=sy, ex=ex, ey=ey,
                      mag=magnitude, step_x=step_x, t_max_x=t_max_x,
                      t_delta_x=t_delta_x, step_y=step_y, t_max_y=t_max_y,
                      t_delta_y=t_delta_y)


def _dda_walk(data, out, rays, mode: str):
    """Lockstep DDA loop over the live set of :func:`_dda_state`; mode
    'product' (float32 transmittance) or 'sum' (float32 blocking sum,
    early-out at >= 1)."""
    f = np.float32
    height, width = data.shape
    flat = np.asarray(data, f).ravel()
    product = mode == "product"
    rays.acc = np.full(len(rays.idx), 1.0 if product else 0.0, dtype=f)
    settle = (lambda acc: acc) if product else _clear
    while len(rays.idx):
        over = np.minimum(rays.t_max_x, rays.t_max_y) > rays.mag
        if over.any() and not _retire(out, rays, over, settle(rays.acc[over])):
            break
        move_x = rays.t_max_x < rays.t_max_y
        rays.sx[move_x] += rays.step_x[move_x]
        rays.t_max_x[move_x] = (rays.t_max_x[move_x]
                                + rays.t_delta_x[move_x]).astype(f)
        move_y = ~move_x
        rays.sy[move_y] += rays.step_y[move_y]
        rays.t_max_y[move_y] = (rays.t_max_y[move_y]
                                + rays.t_delta_y[move_y]).astype(f)

        # arrival outranks the grid test (a product ray may end off-grid)
        arrived = (rays.sx == rays.ex) & (rays.sy == rays.ey)
        ended = arrived | _outside(rays.sx, rays.sy, width, height)
        if ended.any() and not _retire(
                out, rays, ended,
                np.where(arrived[ended], settle(rays.acc[ended]), f(0.0))):
            break
        cell = flat[rays.sy * width + rays.sx]
        if product:
            rays.acc = (rays.acc * (f(1.0) - cell)).astype(f)
            dead = np.abs(rays.acc) <= FLT_EPSILON
        else:
            rays.acc = (rays.acc + cell).astype(f)
            dead = rays.acc >= f(1.0)
        if dead.any():
            _retire(out, rays, dead, f(0.0))
    return out


def dda_batch(data, origin_x, origin_y, resolution, sx, sy, ex, ey, mode,
              max_range=0.0) -> np.ndarray:
    """Vectorized twin of kernel.line_real_observation (``mode="product"``)
    and kernel.line_real_observation_sum (``mode="sum"``, which also zeroes
    out-of-grid end cells); dda_oracle_sql is their SQL twin.  ``max_range``
    (a scalar or one per ray) caps the float32 Euclidean length, 0 = none."""
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {_MODES}, not {mode!r}")
    h, w = np.asarray(data).shape
    out, rays = _dda_state(sx, sy, ex, ey, origin_x, origin_y, resolution,
                           max_range, h, w, check_end_cell=mode == "sum")
    return _dda_walk(data, out, rays, mode)


def _epsilon_round(v):
    """Vectorized kernel.epsilon_round: round within 2e-6, else truncate."""
    rounded = np.rint(v)
    return np.where(np.abs(v - rounded) < 2e-6, rounded,
                    np.trunc(v)).astype(np.int64)


def sensor_cell_observation_batch(data, sx, sy, rng, drn, fov, ex, ey,
                                  origin=None, resolution=None) -> np.ndarray:
    """Vectorized per-(sensor, cell) clear probability — the batch twin of
    kernel.sensor_cell_observation, with its regime switch: ``origin`` set
    walks the DDA from the world position to the cell centre, ``origin``
    None epsilon-rounds the sensor to its cell and walks Bresenham.  Both
    share the zero-range own-cell rule and the exact float32 FOV gate."""
    sx = np.asarray(sx, np.float64)
    sy = np.asarray(sy, np.float64)
    rng = np.asarray(rng, np.float64)
    ex = np.asarray(ex, np.int64)
    ey = np.asarray(ey, np.int64)
    out = np.zeros(len(sx), dtype=np.float32)
    # (gx, gy) is where the FOV gate sees the sensor: its world position
    # (real) or its rounded cell (grid), as in the scalar kernel
    if origin is not None:
        ox, oy, res = float(origin[0]), float(origin[1]), float(resolution)
        # target = cell center, float64 like the scalar twin (consumers cast f32)
        tx = ox + (ex + 0.5) * res
        ty = oy + (ey + 0.5) * res
        scx = np.floor((sx - ox) / res).astype(np.int64)
        scy = np.floor((sy - oy) / res).astype(np.int64)
        gx, gy = sx, sy
    else:
        scx, scy = _epsilon_round(sx), _epsilon_round(sy)
        tx, ty, gx, gy = ex, ey, scx, scy

    zero_range = rng <= 0.0
    out[zero_range & (ex == scx) & (ey == scy)] = 1.0
    live = np.flatnonzero(~zero_range)
    walk = live[in_sensor_fov_batch(gx[live], gy[live], tx[live], ty[live],
                                    rng[live], np.asarray(drn)[live],
                                    np.asarray(fov)[live])]
    if not len(walk):
        return out
    if origin is None:
        out[walk] = bresenham_batch(data, scx[walk], scy[walk], ex[walk],
                                    ey[walk], "sum")
    else:
        out[walk] = dda_batch(data, ox, oy, res, sx[walk], sy[walk],
                              tx[walk], ty[walk], "sum", rng[walk])
    return out


def in_sensor_fov_batch(sx, sy, tx, ty, rng, drn, fov) -> np.ndarray:
    """Vectorized twin of kernel.in_sensor_fov (polycheck.py:157-179).

    rng/drn/fov arrive as float64 (the sensor-table columns); every cast to
    float32 happens exactly where the scalar kernel casts, so boundary cells
    (|delta| == fov/2, dist == range) classify identically.
    """
    f = np.float32
    sx, sy = np.asarray(sx, f), np.asarray(sy, f)
    tx, ty = np.asarray(tx, f), np.asarray(ty, f)
    rng = np.asarray(rng, np.float64)
    drn = np.asarray(drn, np.float64)
    fov = np.asarray(fov, np.float64)
    dx = (tx - sx).astype(f)
    dy = (ty - sy).astype(f)
    dist = np.sqrt((dx * dx + dy * dy).astype(f)).astype(f)
    ok = ~((rng > 0.0) & (dist > rng.astype(f)))
    has_fov = (fov > 0.0) & (fov < (2.0 * np.pi - 1e-6))  # float64, as scalar
    at_origin = (np.abs(dx) <= FLT_EPSILON) & (np.abs(dy) <= FLT_EPSILON)
    bearing = np.arctan2(dy, dx).astype(f)
    # the wrap runs in float64 (scalar f32 + python float promotes to f64 in
    # the reference-parity scalar kernel; f32 ARRAYS would stay f32 — force it)
    ang = (bearing - drn.astype(f)).astype(f).astype(np.float64)
    wrapped = (ang + np.pi) % (2.0 * np.pi) - np.pi
    delta = np.abs(wrapped).astype(f)
    fov_ok = (~has_fov) | at_origin | (delta <= (0.5 * fov).astype(f))
    return ok & fov_ok


def line_range_batch(csr_vertices, csr_offsets, sx, sy, angles,
                     max_range, resolution):
    """Vectorized twin of kernel.line_range: all rays of a faux scan march one
    float32 step per NumPy pass (polycheck.py:604-630 semantics).

    Per step, each still-active ray's position is tested against every polygon
    in CSR order — the FIRST containing polygon wins, exactly like the scalar
    kernel's inner loop.  ``dist`` is the same scalar double sequence for all
    rays (they share ``resolution``/``max_range``), so rays stay in lockstep
    and a hit finishes the ray with the float32 of the current dist.

    Args:
        sx/sy: scalar origin (or per-ray arrays).
        angles: (N,) per-ray angles; cast to float32 like the scalar kernel.

    Returns:
        (ranges (N,) float32, hits (N,) int32) — misses are (-1.0, INT32_MAX).
    """
    f = np.float32
    angles = np.asarray(angles, f)
    n = len(angles)
    out_r = np.full(n, -1.0, dtype=f)
    out_h = np.full(n, 0x7FFFFFFF, dtype=np.int32)
    num_polygons = len(csr_offsets) - 1
    if n == 0 or num_polygons == 0:
        return out_r, out_h
    res32 = f(resolution)
    x_inc = (np.cos(angles) * res32).astype(f)
    y_inc = (np.sin(angles) * res32).astype(f)
    ax = np.broadcast_to(np.asarray(sx, f), (n,)).astype(f).copy()
    ay = np.broadcast_to(np.asarray(sy, f), (n,)).astype(f).copy()
    idx = np.arange(n)
    axi, ayi = x_inc, y_inc
    dist = 0.0  # C double, shared across rays (scalar kernel parity)
    res_d = float(res32)
    # Exact Y-slab gate: every winding crossing needs an edge with
    # min(v1y,v2y) <= py < max(v1y,v2y), so py outside [ymin, ymax) has
    # wn == 0 identically — pruning it cannot change any result.
    slabs = []
    for p in range(num_polygons):
        ys = csr_vertices[csr_offsets[p]:csr_offsets[p + 1], 1]
        slabs.append((ys.min() if len(ys) else f(0), ys.max() if len(ys) else f(0)))
    while dist < max_range and len(idx):
        ax = (ax + axi).astype(f)
        ay = (ay + ayi).astype(f)
        pts = np.stack([ax, ay], axis=1)
        hit_p = np.full(len(idx), 0x7FFFFFFF, dtype=np.int32)
        undecided = np.ones(len(idx), dtype=bool)
        for p in range(num_polygons):
            ymin, ymax = slabs[p]
            sub = np.flatnonzero(undecided & (ay >= ymin) & (ay < ymax))
            if not len(sub):
                continue
            lo, hi = csr_offsets[p], csr_offsets[p + 1]
            c = contains(csr_vertices[lo:hi], pts[sub]) > 0
            hits = sub[c]
            hit_p[hits] = p
            undecided[hits] = False
        hm = hit_p != 0x7FFFFFFF
        if hm.any():
            out_r[idx[hm]] = f(dist)
            out_h[idx[hm]] = hit_p[hm]
            keep = ~hm
            idx = idx[keep]
            ax, ay = ax[keep], ay[keep]
            axi, ayi = axi[keep], ayi[keep]
        dist += res_d
    return out_r, out_h
