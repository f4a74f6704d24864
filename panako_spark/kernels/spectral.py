"""Image -> time/frequency field (the spectrogram analog).

Reference: audio is framed and transformed to a 2-D magnitude field — Olaf:
FFT(1024)+Hamming power spectrum (OlafEventPointProcessor.java:99-133,
166-181); Panako: 512-bin constant-Q Gabor (PanakoEventPointProcessor.java:
105,120-125). Our image analog (SURVEY.md E1/E2, north_star "2D-FFT
spectral event points"):

  * time axis  = horizontal position: frames of `frame_width` columns,
    hop `frame_step` (E1 framing)
  * each frame's column-mean profile is resampled to a fixed
    `freq_samples` length and rfft'd; |coeffs| of bins 1..freq_bins is the
    frame's "spectrum" (E2)

Properties this buys (mirrors the reference's robustness goals):
  * horizontal crop        -> pure time offset   (handled by ΔT alignment)
  * vertical translation   -> phase change only  (magnitude invariant)
  * brightness offset      -> DC bin only        (bin 0 dropped)
  * uniform/anisotropic rescale -> time-stretch / frequency shift
    (handled by the scale-invariant triplet hash, E7)
"""

from __future__ import annotations

import numpy as np

from panako_spark.config import PanakoConfig


def _resample_plan(m: int, n_out: int, dtype) -> tuple:
    """Memoized gather plan (i0, i1, w0, w1) for m -> n_out linear
    resampling. The plan depends only on the lengths, and the extract
    hot loop resamples every tile of every image — recomputing the
    linspace/floor per call was measurable overhead."""
    key = (m, n_out, np.dtype(dtype).str)
    cache = _resample_plan.__dict__.setdefault("cache", {})
    plan = cache.get(key)
    if plan is None:
        pos = np.linspace(0.0, m - 1.0, n_out)
        i0 = np.floor(pos).astype(np.int64)
        i1 = np.minimum(i0 + 1, m - 1)
        w1 = (pos - i0).astype(dtype)
        plan = (i0, i1, (1.0 - w1), w1)
        if len(cache) > 4096:  # images are 64-4096 px; plans are tiny
            cache.clear()
        cache[key] = plan
    return plan


def _resample_rows(mat: np.ndarray, n_out: int) -> np.ndarray:
    """Linear-resample each row of (n, m) to (n, n_out)."""
    n, m = mat.shape
    if m == n_out:
        return mat
    i0, i1, w0, w1 = _resample_plan(m, n_out, mat.dtype)
    return mat[:, i0] * w0 + mat[:, i1] * w1


def _log_positions(cfg: PanakoConfig) -> np.ndarray:
    """Log-spaced source positions over the linear spectrum (memoized)."""
    key = (cfg.freq_bins, cfg.log_fmin_bin)
    cached = _log_positions.__dict__.get("cache")
    if cached is None or cached[0] != key:
        # geometric grid from fmin to the top bin, in 0-based coordinates
        # of the post-DC-drop linear spectrum (bin i = linear bin i+1)
        pos = np.geomspace(cfg.log_fmin_bin, cfg.freq_bins,
                           cfg.freq_bins) - 1.0
        _log_positions.cache = (key, pos)
        cached = _log_positions.cache
    return cached[1]


def _remap_log(spec: np.ndarray, cfg: PanakoConfig) -> np.ndarray:
    """Resample each frame's linear spectrum onto a log-frequency grid.

    The constant-Q move from the reference (PanakoEventPointProcessor.
    java:105,120-125): on a log axis a frequency *scaling* (what a
    vertical crop/rescale does to our column-profile spectrum) becomes a
    pure *translation*, so triplet Δf fields — 12 of the hash's low
    bits — are invariant under crops, and only the coarse f1 bucket
    moves."""
    pos = _log_positions(cfg)
    key = (cfg.freq_bins, cfg.log_fmin_bin, spec.shape[-1],
           np.dtype(spec.dtype).str)
    cache = _remap_log.__dict__.setdefault("cache", {})
    plan = cache.get(key)
    if plan is None:
        i0 = np.floor(pos).astype(np.int64)
        i1 = np.minimum(i0 + 1, spec.shape[-1] - 1)
        w1 = (pos - i0).astype(spec.dtype)
        plan = (i0, i1, (1.0 - w1), w1)
        if len(cache) > 64:
            cache.clear()
        cache[key] = plan
    i0, i1, w0, w1 = plan
    # last-axis gather: works for the single (n_frames, bins) frame
    # matrix and the batched (n_slices, n_frames, bins) stack alike
    return spec[..., i0] * w0 + spec[..., i1] * w1


def column_profiles(gray: np.ndarray, cfg: PanakoConfig) -> np.ndarray:
    """(h, w) float32 luma -> (n_frames, h) per-frame column-mean profiles.

    Row y of the image maps to column y of the output independently of
    every other row, so a vertical tile's profiles are EXACTLY
    `column_profiles(gray, cfg)[:, r0:r1]` (bit-identical floats) — the
    tile-rescue channel exploits this to probe many row ranges from one
    raster pass (landmarks.extract_prints_with_tiles)."""
    h, w = gray.shape
    fw, step = cfg.frame_width, cfg.frame_step
    if w < fw:  # pad narrow images to one frame
        gray = np.pad(gray, ((0, 0), (0, fw - w)), mode="edge")
        w = fw
    n_frames = 1 + (w - fw) // step
    if n_frames >= 1 << 21:
        # frame indices must fit the packed hit-coordinate budget
        # (stages/candidates.py tf packing: t < 2^21); a >4M-frame image is
        # a multi-gigapixel-wide raster — fail loudly, never corrupt
        # packed hashes silently
        raise ValueError(
            f"image yields {n_frames} frames (width ~{w}px), beyond the "
            "packed hit-coordinate budget of 2^21 frames")
    # column-mean profile per frame: (n_frames, h)
    starts = np.arange(n_frames) * step
    # cumulative sum along x for O(1) window means
    csum = np.concatenate(
        [np.zeros((h, 1), np.float64), np.cumsum(gray, axis=1, dtype=np.float64)],
        axis=1,
    )
    return ((csum[:, starts + fw] - csum[:, starts]) / fw).T  # (n_frames, h)


def profiles_to_spectrogram(profiles: np.ndarray,
                            cfg: PanakoConfig) -> np.ndarray:
    """(n_frames, rows) profiles -> (n_frames, freq_bins) log-magnitude."""
    profiles = _resample_rows(profiles, cfg.freq_samples)
    # remove per-frame mean (brightness invariance beyond the DC drop)
    profiles = profiles - profiles.mean(axis=1, keepdims=True)
    spec = np.abs(np.fft.rfft(profiles, axis=1))[:, 1 : cfg.freq_bins + 1]
    if cfg.log_freq:
        spec = _remap_log(spec, cfg)
    return np.log1p(spec).astype(np.float32)


def spectrograms_sliced(profiles: np.ndarray,
                        slices: list[tuple[int, int]],
                        cfg: PanakoConfig) -> np.ndarray:
    """Column slices of ONE profile matrix -> batched spectrogram stack.

    (n_frames, rows) profiles + [(r0, r1), ...] -> (len(slices),
    n_frames, freq_bins) float32, where stack[i] is bit-identical to
    `profiles_to_spectrogram(profiles[:, r0:r1], cfg)`.

    This is the extract hot path's amortization move: the full image and
    its crop-rescue tiles (landmarks.extract_prints_with_tiles) share
    the frame axis, so after per-slice resampling to `freq_samples` the
    mean-removal, rfft, log remap and log1p run ONCE over a 3-D stack
    instead of len(slices) times over small 2-D arrays — at the 64-256px
    bench sizes the per-call NumPy dispatch overhead was ~8x the
    arithmetic (measured: 341 us/slice single vs ~60 us/slice batched)."""
    n_frames = profiles.shape[0]
    stack = np.empty((len(slices), n_frames, cfg.freq_samples),
                     profiles.dtype)
    for idx, (r0, r1) in enumerate(slices):
        stack[idx] = _resample_rows(profiles[:, r0:r1], cfg.freq_samples)
    stack -= stack.mean(axis=2, keepdims=True)
    spec = np.abs(np.fft.rfft(stack, axis=2))[:, :, 1 : cfg.freq_bins + 1]
    if cfg.log_freq:
        spec = _remap_log(spec, cfg)
    return np.log1p(spec).astype(np.float32)


def spectrogram(gray: np.ndarray, cfg: PanakoConfig) -> np.ndarray:
    """(h, w) float32 luma -> (n_frames, freq_bins) float32 log-magnitude."""
    return profiles_to_spectrogram(column_profiles(gray, cfg), cfg)
