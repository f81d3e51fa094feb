"""Seeded forecast panels with a known noise-free signal.

Each series is hourly and ends at the same hour. Its noise-free signal is a
level in [80, 120], a linear trend rising or falling by at most 20 over the
series, and two weekly and two daily harmonics, all inside the forecaster's
model family; the panel value adds N(0, sigma) noise. Two shapes share the
key count and the row total:

  uniform  every key has `mean_len` hours
  skewed   lengths follow a Zipf law with exponent `skew` above a floor of
           MIN_LEN hours, so a few long series dominate one task

For every key and horizon hour the truth file gives the signal and the
standard deviation of that hour's least-squares forecast from the key's
noisy history, sigma * sqrt(x' (X'X)^-1 x), for the model the engine
documents (intercept, trend, changepoints at trend-time quantiles 0.25 /
0.5 / 0.75, weekly Fourier order 3, daily order 2), once without and once
with an indicator column for the given holiday days. The harness checks
forecasts against this file alone.

    python3 perfbench/panels.py OUT_DIR SEED KEYS MEAN_LEN SKEW SIGMA HORIZON DAY[,DAY...]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

END_HOUR = 473_352  # 2024-01-01 00:00 UTC as an epoch hour
MIN_LEN = 336  # two weeks: the weekly harmonics stay well determined
FILES = 8


def lengths(rng, keys, mean_len, skew):
    """Zipf-skewed series lengths with floor MIN_LEN and total keys*mean_len."""
    total = keys * mean_len
    w = 1.0 / np.arange(1, keys + 1) ** skew
    extra = (total - keys * MIN_LEN) * w / w.sum()
    ln = MIN_LEN + np.floor(extra).astype(np.int64)
    ln[: total - ln.sum()] += 1
    return rng.permutation(ln)


def signal(params, n, hours):
    """Noise-free value at the given epoch hours of a series of n hours."""
    lvl, rise, wk, dy = params
    y = lvl + rise * (hours - END_HOUR) / n
    for j, (a, ph) in enumerate(wk, 1):
        y += a * np.sin(2 * np.pi * j * (hours % 168) / 168.0 + ph)
    for j, (a, ph) in enumerate(dy, 1):
        y += a * np.sin(2 * np.pi * j * (hours % 24) / 24.0 + ph)
    return y


def design(hours, h0, span, holidays):
    t = (hours - h0) / span
    cols = [np.ones_like(t), t] + [np.maximum(0.0, t - c) for c in (0.25, 0.5, 0.75)]
    for period, order in ((168, 3), (24, 2)):
        for k in range(1, order + 1):
            a = 2 * np.pi * k * (hours % period) / period
            cols += [np.sin(a), np.cos(a)]
    if holidays:
        cols.append(np.isin(hours // 24, holidays).astype(np.float64))
    return np.stack(cols, axis=1)


def forecast_sd(n, horizon_hours, sigma, holidays):
    hist = np.arange(END_HOUR - n + 1, END_HOUR + 1)
    span = float(max(1, n - 1))
    x = design(hist, hist[0], span, holidays)
    x0 = design(horizon_hours, hist[0], span, holidays)
    inv = np.linalg.inv(x.T @ x)
    return sigma * np.sqrt(np.einsum("ij,jk,ik->i", x0, inv, x0))


def generate(out, seed, keys, mean_len, skew, sigma, horizon, holidays):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    params = [(rng.uniform(80, 120), rng.uniform(-20, 20),
               [(rng.uniform(3, 6), rng.uniform(0, 2 * np.pi)),
                (rng.uniform(0, 2), rng.uniform(0, 2 * np.pi))],
               [(rng.uniform(3, 6), rng.uniform(0, 2 * np.pi)),
                (rng.uniform(0, 2), rng.uniform(0, 2 * np.pi))])
              for _ in range(keys)]
    shapes = {"uniform": np.full(keys, mean_len, np.int64),
              "skewed": lengths(rng, keys, mean_len, skew)}
    ahead = END_HOUR + np.arange(1, horizon + 1)
    for shape, ln in shapes.items():
        key = np.repeat(np.arange(keys, dtype=np.int64), ln)
        starts = END_HOUR - ln + 1
        hours = np.concatenate([np.arange(s, END_HOUR + 1) for s in starts])
        value = np.concatenate([signal(params[k], n, np.arange(s, END_HOUR + 1))
                                for k, (s, n) in enumerate(zip(starts, ln))])
        value += rng.normal(0.0, sigma, len(value))
        table = pa.table({
            "key": pa.array(key, pa.int64()),
            "ts": pa.array(hours * 3_600_000_000, pa.timestamp("us")),
            "value": np.round(value, 4)})
        # several files, so the map side of a forecast call runs one task each
        os.makedirs(os.path.join(out, f"{shape}.parquet"))
        bounds = np.linspace(0, len(key), FILES + 1).astype(int)
        for i in range(FILES):
            pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(out, f"{shape}.parquet", f"part-{i}.parquet"))
        sds = {}
        with open(os.path.join(out, f"{shape}.truth.csv"), "w") as f:
            f.write("key,hour,signal,sd,sd_holiday\n")
            for k, n in enumerate(ln):
                if n not in sds:
                    sds[n] = (forecast_sd(n, ahead, sigma, []),
                              forecast_sd(n, ahead, sigma, holidays))
                sd, sdh = sds[n]
                for row in zip(ahead, signal(params[k], n, ahead), sd, sdh):
                    f.write("{},{},{:.6f},{:.6f},{:.6f}\n".format(k, *row))


if __name__ == "__main__":
    a = sys.argv
    generate(a[1], int(a[2]), int(a[3]), int(a[4]), float(a[5]), float(a[6]), int(a[7]),
             [int(d) for d in a[8].split(",")])
