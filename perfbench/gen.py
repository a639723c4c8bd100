"""Seeded inputs: every value is a pure function of (seed, row index).

Points keep the 80/20 mix of uniform land-latitude points and hot-city
clusters that the engine's own skew fixture uses: 80% are uniform over
lat [-60, 75] x lng [-180, 180], 20% fall within +-0.1 degrees of one of
twelve large cities.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the twelve hot cities of the engine's skew fixture (lat, lng)
HOT_CITIES = np.array([
    (40.7128, -74.0060), (51.5074, -0.1278), (35.6762, 139.6503),
    (-33.8688, 151.2093), (19.4326, -99.1332), (-23.5505, -46.6333),
    (28.6139, 77.2090), (31.2304, 121.4737), (48.8566, 2.3522),
    (-1.2921, 36.8219), (55.7558, 37.6173), (37.7749, -122.4194),
])
HOT_SHARE = 0.20


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, elementwise on uint64 (wrapping)."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _uniform(key: np.uint64, idx: np.ndarray, lane: int) -> np.ndarray:
    """U[0, 1) per row; independent lanes of one seed's key."""
    with np.errstate(over="ignore"):
        x = _mix64(key + idx * np.uint64(4) + np.uint64(lane))
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _key(seed: int) -> np.uint64:
    s = np.array([seed & ((1 << 64) - 1)], dtype=np.uint64)
    return _mix64(_mix64(s))[0]


def points(seed: int, n: int) -> dict[str, np.ndarray]:
    """(point_id, lat, lng) for rows 0..n-1."""
    idx = np.arange(n, dtype=np.uint64)
    key = _key(seed)
    u_hot, u_lat, u_lng, u_city = (_uniform(key, idx, lane)
                                   for lane in range(4))
    lat = -60.0 + 135.0 * u_lat
    lng = -180.0 + 360.0 * u_lng
    hot = u_hot < HOT_SHARE
    city = (u_city[hot] * len(HOT_CITIES)).astype(np.int64)
    lat[hot] = HOT_CITIES[city, 0] + (u_lat[hot] - 0.5) * 0.2
    lng[hot] = HOT_CITIES[city, 1] + (u_lng[hot] - 0.5) * 0.2
    return {"point_id": idx.astype(np.int64), "lat": lat, "lng": lng}


def permutation(seed: int, n: int) -> list[int]:
    """a seeded order of n items."""
    return np.random.default_rng(seed).permutation(n).tolist()


def write_parquet(columns: dict[str, np.ndarray], path: str,
                  files: int) -> None:
    """write the columns as ``files`` parquet files under ``path`` so
    the engine's scan gets one split per file."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(columns)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))
