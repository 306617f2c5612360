"""Seeded inputs of the ``epic_ingest`` workload and the expected outputs,
computed here without the product's pipeline.

Images follow the reference imager's shape at reduced size: a 64x64 grid,
2 complex parts x 2 polarisations x 4 channels of float32, one image per
second of observation time, pointing drifting slowly in RA. The watchlist
mixes patch sizes 3/5/7 and puts some sources outside the field of view and
some outside their time window, so every filter of the pixel pipeline drops
something.
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np

GRID = 64
CUBE_SHAPE = (2, 2, 4, GRID, GRID)  # [n_cplx, n_pol, n_chan, y, x]
SPEC_LEN = CUBE_SHAPE[0] * CUBE_SHAPE[1] * CUBE_SHAPE[2]
CDELT = 1.444  # deg per pixel
T0 = dt.datetime(2024, 6, 1, 12, 0, 0)
# The sky radius the pipeline keeps: naxis/2 pixels at elevation limit 0.
FOV_RADIUS_PX = GRID * 0.5
N_SOURCES = 30


def pointing(epoch_id: int) -> tuple[float, float]:
    """(ra0, dec0) of an image: the phase centre drifts in RA."""
    return 180.0 + (epoch_id % 40) * 0.05, 0.0


def t_obs(epoch_id: int) -> dt.datetime:
    return T0 + dt.timedelta(seconds=epoch_id)


def cube(seed: int, epoch_id: int) -> np.ndarray:
    return np.random.default_rng([seed, epoch_id]).random(CUBE_SHAPE, dtype=np.float32)


def headers(epoch_id: int) -> tuple[dict, dict]:
    """Primary and image FITS cards of one image."""
    ra0, dec0 = pointing(epoch_id)
    primary = {"EPOCHID": epoch_id, "GRIDDIMX": GRID, "GRIDDIMY": GRID, "INTTIM": 1.0}
    img = {
        "DATETIME": t_obs(epoch_id).strftime("%Y-%m-%dT%H:%M:%S.%f"),
        "FILENAME": f"EPIC_{epoch_id}.fits",
        "CRVAL1": ra0, "CRVAL2": dec0,
        "CRPIX1": GRID / 2.0, "CRPIX2": GRID / 2.0,
        "CDELT1": -CDELT, "CDELT2": CDELT,
        "CRVAL3": 50e6, "CDELT3": 25e3, "CRPIX3": 2.0,
        "NAXIS1": GRID, "NAXIS2": GRID,
    }
    return primary, img


def watch_requests(seed: int, last_epoch: int) -> list[dict]:
    """``watch_source`` configs for the run. The first source sits at the
    phase centre and is always active, so every image yields pixels and one
    metadata row. The seed draws where the others sit; their patch sizes
    and kinds (inside, near the edge, outside, expired, not yet started)
    are fixed by their index."""
    rng = np.random.default_rng([seed, 7])
    day = dt.timedelta(days=1)
    first, last = t_obs(0), t_obs(last_epoch)
    out = [dict(source_name="CENTER", ra=180.0, dec=0.0, patch_type=5,
                t_start=(first - day).isoformat(), watch_mode="continuous")]
    for i in range(1, N_SOURCES):
        kind = i % 8
        if kind in (1, 2, 3, 4):        # inside the field of view
            r = rng.uniform(0.0, 0.85) * FOV_RADIUS_PX
        elif kind == 5:                 # near the edge: whole-patch drop
            r = rng.uniform(0.9, 1.0) * FOV_RADIUS_PX
        else:                           # outside the field of view
            r = rng.uniform(1.1, 1.5) * FOV_RADIUS_PX
        ang = rng.uniform(0.0, 2 * math.pi)
        cfg = dict(
            source_name=f"SRC{i:02d}",
            ra=180.0 - r * math.cos(ang) * CDELT,
            dec=r * math.sin(ang) * CDELT,
            # fixed per index, so the pixel work of an image does not
            # change with the seed
            patch_type=(3, 5, 7)[i % 3],
            t_start=(first - day).isoformat(),
            watch_mode="continuous",
        )
        if kind == 4:                   # expired before the run
            cfg.update(t_start=(first - 2 * day).isoformat(),
                       t_end=(first - day).isoformat(), watch_mode="timed")
        elif kind == 3 and i % 2:       # starts after the run
            cfg.update(t_start=(last + day).isoformat())
        out.append(dict(cfg, author="perfbench"))
    out[0]["author"] = "perfbench"
    return out


# --- expected pipeline output (reference semantics, re-derived) --------------


def _snap(p: float) -> int:
    """Reference snap: floor(p + min(modf(p)[0], 0.5)); modf keeps the sign."""
    frac = math.modf(p)[0]
    return math.floor(p + min(frac, 0.5))


def _inside(x: int, y: int) -> bool:
    c = GRID / 2.0
    return (x - c) ** 2 + (y - c) ** 2 <= FOV_RADIUS_PX ** 2


def expected_patches(epoch_id: int, sources: list[dict]) -> list[tuple[str, int, int, int]]:
    """(source, x, y, patch) of each whole patch the image must yield."""
    ra0, dec0 = pointing(epoch_id)
    t = t_obs(epoch_id)
    out = []
    for s in sources:
        t_start = dt.datetime.fromisoformat(s["t_start"])
        t_end = (dt.datetime.fromisoformat(s["t_end"]) if s.get("t_end")
                 else t_start + dt.timedelta(days=365 * 99))
        if not (t_start < t <= t_end):
            continue
        x = _snap((s["ra"] - ra0) / -CDELT + GRID / 2.0)
        y = _snap((s["dec"] - dec0) / CDELT + GRID / 2.0)
        if x < 0 or y < 0 or not _inside(x, y):
            continue
        h = s["patch_type"] // 2
        ok = all(
            1 <= x + ox <= GRID and 1 <= y + oy <= GRID and _inside(x + ox, y + oy)
            for ox in range(-h, h + 1) for oy in range(-h, h + 1)
        )
        if ok:
            out.append((s["source_name"], x, y, s["patch_type"]))
    return out


def expected_pixels(epoch_id: int, sources: list[dict]) -> int:
    return sum(p * p for _, _, _, p in expected_patches(epoch_id, sources))


def spectrum(c: np.ndarray, x: int, y: int) -> list[float]:
    """The gathered spectrum of 1-based pixel (x, y): cube[:, :, :, y-1, x-1]."""
    return [float(v) for v in c[:, :, :, y - 1, x - 1].ravel()]
