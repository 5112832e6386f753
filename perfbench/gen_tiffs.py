"""Seeded synthetic detector-TIFF generator for the streaming workloads.

Each frame is a SIZE x SIZE int32 baseline TIFF carrying what the image
plan classifies: powder rings, sharp spots, texture arcs (one crossing
azimuth 0/360), hot single-pixel outliers, a dead block and read noise.
Feature counts scale with the detector area, and the intensities drift
slowly from frame to frame so the cosine-similarity series decays instead
of sitting at 1.0. Geometry follows the benchmark's detector controls
(150 um pixels, beam at the detector centre, distance = size / 3 mm).

Files land atomically: each frame is written to a hidden temp file in the
landing directory, then renamed to ``<dataset>-<seq:05d>.tif``.

    python3 perfbench/gen_tiffs.py --out DIR --size 512 --frames 4 --seed 7
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np

PIXEL_MM = 0.150
DATASET = "bench"
#: relative amplitude loss per frame
DRIFT = 0.02


def detector_geometry(size: int) -> tuple[float, float, float]:
    """(distance_mm, centre_x_mm, centre_y_mm) of the benchmark detector."""
    centre = size * PIXEL_MM / 2.0
    return size / 3.0, centre, centre


def _tth_azim(size: int) -> tuple[np.ndarray, np.ndarray]:
    dist, cx, cy = detector_geometry(size)
    ax = (np.arange(size) + 0.5) * PIXEL_MM
    dx = ax[None, :] - cx
    dy = ax[:, None] - cy
    tth = np.degrees(np.arctan(np.hypot(dx, dy) / dist))
    azim = np.degrees(np.arctan2(dy, dx)) % 360.0
    return tth, azim


class FrameSource:
    """Draws the sample once from ``seed``; ``frame(seq)`` renders frame seq.

    Spot and arc positions stay fixed across frames (the sample does not
    jump between exposures); amplitudes drift by ``DRIFT`` per frame and
    the noise and hot pixels are fresh in every frame.
    """

    def __init__(self, size: int, seed: int):
        self.size = size
        self.seed = seed
        rng = np.random.default_rng([seed, size])
        self.tth, self.azim = _tth_azim(size)
        scale = (size / 512.0) ** 2
        # rings inside the integration range (1, 12.7) deg 2theta
        self.rings = [
            (t + rng.uniform(-0.15, 0.15), rng.uniform(1500.0, 3000.0))
            for t in (2.0, 3.5, 5.0, 7.0, 9.5, 11.5)
        ]
        n_spots = max(6, int(round(16 * scale)))
        margin = max(8, size // 32)
        self.spots = [
            (
                int(rng.integers(margin, size - margin)),
                int(rng.integers(margin, size - margin)),
                rng.uniform(1.3, 2.5),
                rng.uniform(20000.0, 50000.0),
            )
            for _ in range(n_spots)
        ]
        # arcs: narrow in 2theta, 30-50 deg wide in azimuth, between rings;
        # the last one straddles azimuth 0/360
        self.arcs = []
        for k, t in enumerate((6.0, 8.2, 10.5)):
            a0 = 330.0 + rng.uniform(0, 10) if k == 2 else rng.uniform(
                40 + 110 * k, 80 + 110 * k
            )
            self.arcs.append((t, a0 % 360.0, (a0 + rng.uniform(30, 50)) % 360.0))
        self.n_hot = max(20, int(round(60 * scale)))
        self.dead = max(8, size // 40)
        self._ys, self._xs = np.mgrid[0:size, 0:size]

    def frame(self, seq: int) -> np.ndarray:
        size = self.size
        amp = 1.0 - DRIFT * seq
        rng = np.random.default_rng([self.seed, size, seq])
        img = np.full((size, size), 100.0)
        for t, a in self.rings:
            img += a * amp * np.exp(-((self.tth - t) ** 2) / (2 * 0.12**2))
        for sy, sx, sig, a in self.spots:
            y0, y1 = max(0, sy - 8), min(size, sy + 9)
            x0, x1 = max(0, sx - 8), min(size, sx + 9)
            ys, xs = self._ys[y0:y1, x0:x1], self._xs[y0:y1, x0:x1]
            img[y0:y1, x0:x1] += a * amp * np.exp(
                -((ys - sy) ** 2 + (xs - sx) ** 2) / (2 * sig**2)
            )
        for t, a0, a1 in self.arcs:
            if a0 <= a1:
                inside = (self.azim >= a0) & (self.azim <= a1)
            else:
                inside = (self.azim >= a0) | (self.azim <= a1)
            img += 25000.0 * amp * np.exp(
                -((self.tth - t) ** 2) / (2 * 0.04**2)
            ) * inside
        img += rng.normal(0.0, 4.0, size=img.shape)
        hy = rng.integers(0, size, self.n_hot)
        hx = rng.integers(0, size, self.n_hot)
        img[hy, hx] += 20000.0
        img[: self.dead, : self.dead] = 0.0
        return np.clip(np.round(img), 0, None).astype(np.int32)


def land(path: str, image: np.ndarray) -> None:
    """Write ``image`` as a TIFF to a hidden temp name beside ``path``, then
    rename it to ``path``."""
    from xrddatapipeline_spark.sources.tiff import write_tiff_gray

    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.landing")
    write_tiff_gray(tmp, image)
    os.replace(tmp, path)


def generate(out_dir: str, size: int, frames: int, seed: int) -> list[str]:
    """Land ``frames`` frames under ``out_dir``; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    src = FrameSource(size, seed)
    paths = []
    for seq in range(frames):
        path = os.path.join(out_dir, f"{DATASET}-{seq:05d}.tif")
        land(path, src.frame(seq))
        paths.append(path)
    return paths


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--size", type=int, default=512)
    ap.add_argument("--frames", type=int, default=4)
    ap.add_argument("--seed", type=int, default=0)
    a = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    for p in generate(a.out, a.size, a.frames, a.seed):
        print(p)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
