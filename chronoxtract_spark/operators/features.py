"""Feature-extraction operators.

Two execution paths, chosen per feature family (SURVEY.md §2.12):

- **SQL-native aggregation** (``summary_features``): one
  groupBy().agg() pass producing the full ``time_series_summary``
  vector (reference: src/lib.rs:58-99) — partial+final hash aggregation,
  whole-stage codegen, zero Python.
- **Arrow kernel** (``kernel_features``): whole-series algorithms with
  no columnar decomposition (entropy family, spectral power, peak
  stats, Hjorth complexity chains, DFA...) run per group through
  ``applyInPandas`` against the numpy kernel library — one Python
  invocation per (group, Arrow batch), never per row.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from chronoxtract_spark import functions as cxf
from chronoxtract_spark.kernel import (
    entropy as k_entropy,
    fda as k_fda,
    higherorder as k_ho,
    misc as k_misc,
    rolling as k_rolling,
    seasonality as k_seas,
    shape as k_shape,
    stats as k_stats,
)


def summary_features(
    df: DataFrame,
    group_cols: list[str],
    value_col: str = "value",
    exact_quantiles: bool = True,
    with_mode: bool = True,
) -> DataFrame:
    """Per-group ``time_series_summary`` feature row, SQL-native.

    The mode needs a value-level pre-aggregation for a deterministic
    tie-break, so it's computed as a second (cheap, partial-aggregable)
    pass and joined back on the group keys. Both aggregations shuffle on
    the same keys; with AQE the join is typically planned broadcast-free
    since partitioning matches.
    """
    agg = df.groupBy(*group_cols).agg(
        *cxf.summary_agg_exprs(value_col, exact_quantiles=exact_quantiles)
    )
    if not with_mode:
        return agg
    modes = cxf.mode_agg(df, group_cols, value_col, out="mode")
    return agg.join(modes, group_cols)


# ---------------------------------------------------------------------------
# Arrow-kernel whole-series features

#: output schema for kernel_features (nullable doubles encode the
#: reference's Option<f64> and too-short-series cases)
KERNEL_FEATURE_FIELDS = [
    ("sample_entropy", "double"),
    ("approx_entropy", "double"),
    ("permutation_entropy", "double"),
    ("lempel_ziv_complexity", "double"),
    ("shannon_entropy", "double"),
    ("spectral_power_total", "double"),
    ("spectral_peak_freq", "double"),
    ("spectral_entropy", "double"),
    ("hjorth_activity", "double"),
    ("hjorth_mobility", "double"),
    ("hjorth_complexity", "double"),
    ("num_peaks", "double"),
    ("mean_prominence", "double"),
    ("zero_crossing_rate", "double"),
    ("mean_slope", "double"),
    ("slope_variance", "double"),
    ("max_slope", "double"),
    ("turning_point_rate", "double"),
    ("dfa_alpha", "double"),
    ("energy_entropy", "double"),
    ("energy_concentration", "double"),
]


def _safe(fn, *args, default=float("nan")):
    try:
        v = fn(*args)
        if isinstance(v, tuple):
            return v
        return float(v)
    except (ValueError, ZeroDivisionError):
        return default


def compute_kernel_features(x: np.ndarray) -> dict:
    """All whole-series kernel features for one ordered series.

    Pure numpy; shared by the Spark applyInPandas wrapper and the
    parity tests (which call it directly on fixture arrays).
    """
    n = x.size
    out: dict[str, float] = {}
    nan = float("nan")

    if n >= 4:
        # fused pass: both entropies share (m, r), and every template-
        # match count comes from one pairwise adjacency (bit-identical
        # integer counts, ~30x less per-window work — kernel.entropy
        # sampen_apen docstring)
        se_ae = _safe(
            k_entropy.sampen_apen, x, 2, 0.2 * max(float(np.std(x)), 1e-12)
        )
        out["sample_entropy"], out["approx_entropy"] = (
            se_ae if isinstance(se_ae, tuple) else (se_ae, se_ae)
        )
    else:
        out["sample_entropy"] = out["approx_entropy"] = nan
    out["permutation_entropy"] = (
        _safe(k_entropy.permutation_entropy, x, 3, 1) if n >= 3 else nan
    )
    out["lempel_ziv_complexity"] = (
        _safe(k_entropy.lempel_ziv_complexity, x) if n >= 1 else nan
    )
    # Shannon entropy of a 16-bin histogram over the series' own range
    # (the north star's "Shannon entropy" per window; same histogram
    # construction as sliding_window_entropy, src/rollingstats/mod.rs:68-104,
    # with the window = the whole series)
    if n >= 1:
        swe = k_rolling.sliding_window_entropy(x, n, 16)
        out["shannon_entropy"] = float(swe[0]) if swe.size else nan
    else:
        out["shannon_entropy"] = nan

    # Welch/FFT spectral power block (north star; kernel fda.welch_power)
    if n >= 8:
        psd = k_fda.welch_power(x, nperseg=min(64, n))
        freqs = np.fft.rfftfreq(min(64, n))
        tot = float(psd.sum())
        out["spectral_power_total"] = tot
        out["spectral_peak_freq"] = float(freqs[int(np.argmax(psd))])
        p = psd[psd > 0]
        if tot > 0 and p.size:
            pn = p / tot
            out["spectral_entropy"] = float(-np.sum(pn * np.log(pn)))
        else:
            out["spectral_entropy"] = nan
    else:
        out["spectral_power_total"] = nan
        out["spectral_peak_freq"] = nan
        out["spectral_entropy"] = nan

    if n >= 3:
        a, m, c = k_ho.hjorth_parameters(x)
        out["hjorth_activity"], out["hjorth_mobility"], out["hjorth_complexity"] = (
            a,
            m,
            c,
        )
    else:
        out["hjorth_activity"] = out["hjorth_mobility"] = out[
            "hjorth_complexity"
        ] = nan

    if n >= 3:
        stats6 = k_shape.enhanced_peak_stats(x)
        out["num_peaks"] = float(stats6[0])
        out["mean_prominence"] = stats6[1]
        out["turning_point_rate"] = k_shape.turning_points(x)[1]
    else:
        out["num_peaks"] = out["mean_prominence"] = out["turning_point_rate"] = nan

    if n >= 2:
        out["zero_crossing_rate"] = k_shape.zero_crossing_rate(x)
        ms, sv, mx = k_shape.slope_features(x)
        out["mean_slope"], out["slope_variance"], out["max_slope"] = ms, sv, mx
    else:
        out["zero_crossing_rate"] = out["mean_slope"] = out["slope_variance"] = out[
            "max_slope"
        ] = nan

    out["dfa_alpha"] = (
        _safe(k_seas.detrended_fluctuation_analysis, x) if n >= 16 else nan
    )
    if n >= 1:
        ee, _, ec = k_shape.energy_distribution(x)
        out["energy_entropy"], out["energy_concentration"] = ee, ec
    else:
        out["energy_entropy"] = out["energy_concentration"] = nan
    return out


def kernel_features(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str = "value",
    max_points: int | None = None,
) -> DataFrame:
    """Per-group whole-series kernel feature row via applyInPandas.

    Sorting happens inside the kernel (numpy argsort on the order
    columns) so the grouped-map contract stays deterministic regardless
    of shuffle order — the reference requires stable (turn_idx, ts)
    ordering for every sequential algorithm (BASELINE.json:input_hint).

    ``max_points`` bounds the cost of the O(n^2) entropy kernels at any
    data rate: inside the kernel each group's ordered series is split
    into consecutive position windows of at most that many points and
    one feature row is emitted per (group, window_idx) — the battery
    stays O(n * max_points) instead of O(n^2) as groups grow with event
    rate. (Splitting in-kernel costs no extra shuffle; a row_number
    pre-bucketing was measured ~2x slower end-to-end for the same
    bound.)
    """
    key_fields = ", ".join(
        f"{c} {t}" for c, t in zip(group_cols, _group_types(df, group_cols))
    )
    feat_fields = ", ".join(f"{c} {t}" for c, t in KERNEL_FEATURE_FIELDS)

    order = list(order_cols)
    val = value_col
    gcols = list(group_cols)

    if max_points is None:

        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(order, kind="mergesort")
            x = pdf[val].to_numpy(dtype=np.float64)
            feats = compute_kernel_features(x)
            row = {c: pdf[c].iloc[0] for c in gcols}
            row.update(feats)
            return pd.DataFrame([row])

        schema = f"{key_fields}, {feat_fields}"
        return df.groupBy(*gcols).applyInPandas(fn, schema=schema)

    mp = int(max_points)

    def fn_split(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, kind="mergesort")
        x = pdf[val].to_numpy(dtype=np.float64)
        keys = {c: pdf[c].iloc[0] for c in gcols}
        rows = []
        for w in range(0, max(x.size, 1), mp):
            row = dict(keys)
            row["window_idx"] = w // mp
            row.update(compute_kernel_features(x[w : w + mp]))
            rows.append(row)
        return pd.DataFrame(rows)

    schema = f"{key_fields}, window_idx long, {feat_fields}"
    return df.groupBy(*gcols).applyInPandas(fn_split, schema=schema)


def _group_types(df: DataFrame, cols: list[str]) -> list[str]:
    m = dict(df.dtypes)
    return [m[c] for c in cols]


#: the north-star per-window kernel feature set (BASELINE.json:north_star:
#: "Shannon entropy, and Welch/FFT spectral power"); moments/quantiles are
#: SQL-side. Computed fully vectorized across same-length windows.
CORE_FEATURE_FIELDS = [
    ("shannon_entropy", "double"),
    ("spectral_power_total", "double"),
    ("spectral_peak_freq", "double"),
    ("spectral_entropy", "double"),
]


_HANN: dict[int, tuple[np.ndarray, float]] = {}


def _hann_cache(w: int) -> tuple[np.ndarray, float]:
    """(hann window, 1/sum(win^2)) memoized per width — rebuilt
    identically from np.hanning, just not once per batch (the batch
    loop calls this per unique window length per group)."""
    hit = _HANN.get(w)
    if hit is None:
        win = np.hanning(w)
        hit = (win, 1.0 / (win * win).sum())
        _HANN[w] = hit
    return hit


_ENT_LUT: dict[int, np.ndarray] = {}


def _entropy_lut(w: int) -> np.ndarray:
    """``-p*log2(p)`` for every possible bin count ``c in [0, w]`` with
    ``p = c / float(w)`` — the EXACT expression the histogram entropy
    evaluates per cell, precomputed once per window width so the per-
    batch work is one integer gather instead of a where/log2/multiply
    chain over the full (n, bins) matrix (bit-identical: the table
    entries are produced by the same float ops on the same inputs,
    including the ``-0.0`` at c == w)."""
    t = _ENT_LUT.get(w)
    if t is None:
        p = np.arange(w + 1) / float(w)
        with np.errstate(all="ignore"):
            t = np.where(p > 0, -p * np.log2(np.where(p > 0, p, 1.0)), 0.0)
        _ENT_LUT[w] = t
    return t


def core_features_batch(
    X: np.ndarray,
    mn: np.ndarray | None = None,
    mx: np.ndarray | None = None,
) -> dict[str, np.ndarray]:
    """North-star window features for a (n_windows, w) matrix of
    equal-length windows — one batched numpy pass, no per-window Python.

    - Shannon entropy: 16-bin histogram over each window's own min/max,
      log2, 0 for flat windows (the whole-window case of
      src/rollingstats/mod.rs:68-104)
    - Welch/FFT spectral power: hann-windowed, mean-removed one-segment
      (w <= 64) rfft power; total, argmax frequency, normalized
      spectral entropy

    ``mn``/``mx`` accept precomputed per-row min/max (keepdims shape)
    so a caller that also needs them (window_state_batch) pays the
    reduction once. Every fusion below (LUT gather, ``out=`` chains,
    masked negate) evaluates the same IEEE ops on the same values in
    the same order as the naive form — pinned bit-exact by
    test_core_features_batch_fused_bitexact."""
    n, w = X.shape
    out: dict[str, np.ndarray] = {}
    bins = 16
    if mn is None:
        mn = X.min(axis=1, keepdims=True)
    if mx is None:
        mx = X.max(axis=1, keepdims=True)
    rng = mx - mn
    flat = (rng == 0.0).ravel()
    safe = np.where(rng == 0.0, 1.0, rng)
    # (X - mn) / safe * bins, floored — chained through ONE buffer
    # (each step is the identical elementwise op the temporaries did)
    buf = X - mn
    np.divide(buf, safe, out=buf)
    np.multiply(buf, bins, out=buf)
    np.floor(buf, out=buf)
    idx = buf.astype(np.int64)
    np.clip(idx, 0, bins - 1, out=idx)
    idx += np.arange(n)[:, None] * bins
    counts = np.bincount(idx.ravel(), minlength=n * bins).reshape(n, bins)
    ent = _entropy_lut(w)[counts].sum(axis=1)
    ent[flat] = 0.0
    out["shannon_entropy"] = ent

    win, scale = _hann_cache(w)
    # (X - mean) * win reusing the histogram buffer (same two ops)
    seg = buf
    np.subtract(X, X.mean(axis=1, keepdims=True), out=seg)
    np.multiply(seg, win[None, :], out=seg)
    spec = np.fft.rfft(seg, axis=1)
    psd = np.square(spec.real)
    psd += np.square(spec.imag)
    psd *= scale
    if w % 2 == 0:
        psd[:, 1:-1] *= 2.0
    else:
        psd[:, 1:] *= 2.0
    freqs = np.fft.rfftfreq(w)
    tot = psd.sum(axis=1)
    out["spectral_power_total"] = tot
    out["spectral_peak_freq"] = freqs[np.argmax(psd, axis=1)]
    # normalized spectral entropy in place on psd: pn = psd/tot;
    # terms = where(pn>0, -pn*log(pn), 0.0) via a zero-initialized
    # log buffer and MASKED multiply/negate — elsewhere entries stay
    # +0.0 exactly as the where() produced them
    pn = psd
    np.divide(pn, np.where(tot == 0, 1.0, tot)[:, None], out=pn)
    m = pn > 0
    with np.errstate(all="ignore"):
        lg = np.zeros_like(pn)
        np.log(pn, out=lg, where=m)
        np.multiply(lg, pn, out=lg, where=m)
        np.negative(lg, out=lg, where=m)
    se = lg.sum(axis=1)
    se[tot == 0] = float("nan")
    out["spectral_entropy"] = se
    return out


#: mergeable raw-moment state + exact window quantiles, emitted by the
#: same kernel pass as the core features (tier_windows) —
#: mirrors functions.moment_state_exprs (src/stats/mod.rs:25-43) and the
#: reference's interpolated quantiles (src/stats/mod.rs:98-111)
WINDOW_STATE_FIELDS = [
    ("n", "long"),
    ("s1", "double"),
    ("s2", "double"),
    ("s3", "double"),
    ("s4", "double"),
    ("min", "double"),
    ("max", "double"),
    ("q05", "double"),
    ("q25", "double"),
    ("median", "double"),
    ("q75", "double"),
    ("q95", "double"),
]


def _exact_quantiles_rows(X: np.ndarray, qs: list[float]) -> np.ndarray:
    """``np.quantile(X, qs, axis=1)`` bit-for-bit, ~10x faster for a
    handful of probes: ONE ``np.sort`` per row serves every probe,
    with numpy's own lerp formula (``a + t*(b-a)``, flipped to
    ``b - (b-a)*(1-t)`` at t >= 0.5) applied to the sorted columns.
    The only reachable divergence is tie-ordering between -0.0 and
    +0.0 (np.quantile partitions, this sorts; the two zeros compare
    equal, so which lands at the probe index is algorithm-dependent) —
    guarded by falling back to np.quantile when a negative zero is
    present. Tier data (rates) is provably non-negative-zero."""
    if np.any(np.signbit(X) & (X == 0.0)):
        return np.quantile(X, qs, axis=1)
    n = X.shape[1]
    Xs = np.sort(X, axis=1)
    out = np.empty((len(qs), X.shape[0]))
    for k, q in enumerate(qs):
        vi = q * (n - 1)
        lo = int(np.floor(vi))
        hi = min(lo + 1, n - 1)
        t = vi - lo
        a = Xs[:, lo]
        b = Xs[:, hi]
        diff = b - a
        out[k] = b - diff * (1 - t) if t >= 0.5 else a + t * diff
    return out


def window_state_batch(
    X: np.ndarray,
    mn: np.ndarray | None = None,
    mx: np.ndarray | None = None,
) -> dict[str, np.ndarray]:
    """Raw-moment state + exact quantiles for a (n_windows, w) batch —
    one vectorized pass, no per-window Python. ``mn``/``mx`` accept the
    per-row min/max a caller already computed (same reduction, so the
    same values bit-for-bit)."""
    x2 = X * X
    qs = _exact_quantiles_rows(X, [0.05, 0.25, 0.5, 0.75, 0.95])
    return {
        "n": np.full(X.shape[0], X.shape[1], dtype=np.int64),
        "s1": X.sum(axis=1),
        "s2": x2.sum(axis=1),
        "s3": (x2 * X).sum(axis=1),
        "s4": (x2 * x2).sum(axis=1),
        "min": X.min(axis=1) if mn is None else mn,
        "max": X.max(axis=1) if mx is None else mx,
        "q05": qs[0],
        "q25": qs[1],
        "median": qs[2],
        "q75": qs[3],
        "q95": qs[4],
    }


def _gather_windows(x: np.ndarray, starts: np.ndarray, length: int) -> np.ndarray:
    """Gather ``len(starts)`` windows of ``length`` from ``x`` into a
    (n, length) matrix — identical elements to
    ``np.stack([x[s:s+length] for s in starts])`` but copied in
    contiguous RUNS: consecutive windows that tile the series (the
    overwhelmingly common case — every full window inside one
    conversation) move as one reshape-memcpy instead of one Python
    slice each (measured 201 ms -> ~8 ms for 41k w=60 windows over a
    2.5M-point bucket)."""
    n_win = int(starts.size)
    mat = np.empty((n_win, length), dtype=x.dtype)
    if not n_win:
        return mat
    brk = np.flatnonzero(starts[1:] != starts[:-1] + length) + 1
    rs = np.concatenate(([0], brk))
    re = np.concatenate((brk, [n_win]))
    for a, b in zip(rs, re):
        s0 = int(starts[a])
        cnt = b - a
        mat[a:b] = x[s0 : s0 + cnt * length].reshape(cnt, length)
    return mat


def tier_windows(
    x: np.ndarray,
    t: np.ndarray,
    conv_idx: np.ndarray,
    conv_vals: np.ndarray,
    width: int,
) -> pd.DataFrame:
    """One tier's windows over concatenated per-conversation dense
    series: window boundaries are (conversation, ``width``-second epoch
    bucket) changes. One row per window — ``conv_id``,
    ``bucket_epoch`` (long), WINDOW_STATE_FIELDS + CORE_FEATURE_FIELDS —
    in series order. Same-length windows across every conversation
    batch into one vectorized call (all window math is row-wise, so
    batch composition cannot change a result bit)."""
    fields = WINDOW_STATE_FIELDS + CORE_FEATURE_FIELDS
    bucket = (t // width) * width
    brk = (bucket[1:] != bucket[:-1]) | (conv_idx[1:] != conv_idx[:-1])
    change = np.flatnonzero(brk) + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [len(x)]))
    lengths = ends - starts
    n_win = len(starts)
    cols = {
        c: np.empty(n_win, dtype=np.int64 if ft == "long" else np.float64)
        for c, ft in fields
    }
    for length in np.unique(lengths):
        sel = np.flatnonzero(lengths == length)
        mat = _gather_windows(x, starts[sel], int(length))
        # one min/max reduction serves both the histogram scaling
        # and the state columns (identical values)
        mnk = mat.min(axis=1, keepdims=True)
        mxk = mat.max(axis=1, keepdims=True)
        feats = core_features_batch(mat, mn=mnk, mx=mxk)
        feats.update(window_state_batch(mat, mn=mnk.ravel(), mx=mxk.ravel()))
        for c, _ in fields:
            cols[c][sel] = feats[c]
    out = pd.DataFrame(cols)
    out.insert(0, "bucket_epoch", bucket[starts])
    out.insert(0, "conv_id", conv_vals[conv_idx[starts]])
    return out
