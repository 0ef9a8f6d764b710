"""Seeded input generator for the three pipeline workloads.

Every array is drawn from numpy's PCG64 seeded with (workload, seed), so the
same seed yields byte-identical files. The generator writes:

- ``in/``    what the program reads (CSV, parquet, GeoJSON; NetCDF and
             GeoTIFF are written by the JVM writer from ``raw/``);
- ``raw/``   little-endian blobs plus ``manifest.json`` for that writer;
- ``stage/`` the same inputs, decoded, as parquet for the DuckDB oracle.

Sizes are module constants; a run's record of what was generated (row
counts, on-disk sizes) comes from :func:`describe`.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FILL = -32767  # _FillValue of every packed ERA5-like variable
EPOCH_1900 = np.datetime64("1900-01-01T00:00:00", "h")

# ---- era5_area ------------------------------------------------------------
AREA_MONTHS = ["2020-01", "2020-02", "2020-03"]   # one NetCDF file each
AREA_NLAT, AREA_NLON = 20, 20
AREA_LAT0, AREA_LON0, AREA_RES = 50.0, -100.0, 0.25  # ERA5 lat descends
WTD_LAT0, WTD_LON0, WTD_RES = 50.03, -100.04, 0.1    # offset: no ties
WTD_NY, WTD_NX = 101, 101
# region boxes in grid cells (first row, last row, first column, last
# column); rows count southwards from AREA_LAT0
AREA_REGION_BOXES = [(1, 7, 1, 7), (1, 7, 12, 18), (12, 18, 1, 7),
                     (12, 18, 12, 18), (5, 13, 5, 13), (14, 19, 14, 19)]
# name -> (scale_factor, add_offset); values are packed to NC_SHORT
AREA_VARS = {
    "t2m": (0.002, 280.0), "d2m": (0.002, 275.0), "sp": (0.5, 95000.0),
    "u10": (0.001, 0.0), "v10": (0.001, 0.0),
    "avg_sdswrf": (0.02, 600.0), "tp": (2e-6, 0.03),
}

# ---- station_gapfill ------------------------------------------------------
STATIONS = 16
STATION_START, STATION_END = "2019-01-01T00", "2021-01-01T00"  # 2 years hourly
STATION_RANGE = ("2019-02-01 00:00:00", "2020-11-30 23:00:00")
STATION_VARS = ["PA", "RH", "TA", "WS"]
POINT_VARS = {k: AREA_VARS[k] for k in ("t2m", "d2m", "sp", "u10", "v10")}

# ---- llm_curation ---------------------------------------------------------
LLM_BASE_DOCS = 500
LLM_EXACT_DUP = 0.08        # share of docs re-added verbatim
LLM_LOW = 0.08              # share of base docs that are short or noisy
LLM_CHAIN_SHARE = 0.06      # share of base docs that start an edit chain
LLM_CHAIN_LEN = 4           # edits per chain (each a 1-2 word change)
LLM_EVAL_DOCS = 150
LLM_CONTAM = 0.03           # share of docs that carry an eval-set span
LLM_LANGS = [("en", .58), ("de", .14), ("fr", .10), ("es", .08),
             ("zh", .06), ("und", .04)]
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "dans"],
    "es": ["el", "los", "las", "es", "un", "una", "que", "y"],
    "zh": ["de", "shi", "le", "bu", "wo", "zai", "you", "ni"],
    "und": [],
}
LLM_SOURCES = 12


def rng_for(workload, seed):
    tag = sum(ord(c) * 131 ** i for i, c in enumerate(workload)) % (2 ** 31)
    return np.random.Generator(np.random.PCG64([int(seed), tag]))


def _pack(values, scale, offset, rng, fill_share):
    packed = np.clip(np.rint((values - offset) / scale), -32766, 32767)
    packed = packed.astype("<i2")
    if fill_share > 0:
        packed[rng.random(packed.shape) < fill_share] = FILL
    return packed


def _decode(packed, scale, offset):
    """The CF decode the oracle assumes: raw * scale + offset, fill -> null."""
    out = packed.astype(np.float64) * scale + offset
    return pa.array(out.ravel(), mask=(packed == FILL).ravel())


def _hours(start, end):
    return np.arange(np.datetime64(start, "h"), np.datetime64(end, "h"))


def _ts_array(hours):
    return pa.array(hours.astype("datetime64[us]"), type=pa.timestamp("us"))


def _weather(rng, hours, lat, lon):
    """Plausible hourly fields on a (time, lat, lon) grid."""
    shape = (len(hours), len(lat), len(lon))
    hod = (hours.astype(np.int64) % 24)[:, None, None]
    day = ((hours - hours[0]).astype(np.int64) // 24)[:, None, None]
    latg = np.asarray(lat)[None, :, None]
    diurnal = np.sin(2 * np.pi * (hod - 9) / 24)
    t2m = (282 - 0.6 * (latg - 40) + 6 * diurnal + 3 * np.sin(day / 5.0)
           + rng.normal(0, 1.5, shape))
    d2m = t2m - rng.uniform(0.5, 12, shape)
    sp = 95000 + 30 * (latg - 40) + rng.normal(0, 600, shape)
    u10 = rng.normal(0, 4, shape)
    v10 = rng.normal(0, 4, shape)
    sw = np.maximum(0.0, 850 * diurnal) * rng.uniform(0.4, 1.0, shape)
    tp = np.where(rng.random(shape) < 0.15, rng.exponential(0.002, shape), 0.0)
    return {"t2m": t2m, "d2m": d2m, "sp": sp, "u10": u10, "v10": v10,
            "avg_sdswrf": sw, "tp": tp}


def _nc_entry(path, hours, lat, lon, packed, var_specs):
    return {
        "path": path,
        "time": (hours - EPOCH_1900).astype(np.int64).tolist(),
        "latitude": [float(x) for x in lat],
        "longitude": [float(x) for x in lon],
        "vars": [{"name": n, "scale": s, "offset": o, "raw": packed[n]}
                 for n, (s, o) in var_specs.items()],
    }


def _write_raw(raw_dir, name, arr):
    p = os.path.join(raw_dir, name)
    arr.tofile(p)
    return p


def gen_era5_area(work, rng):
    raw, inp, stage = (os.path.join(work, d) for d in ("raw", "in", "stage"))
    lat = AREA_LAT0 - AREA_RES * np.arange(AREA_NLAT)
    lon = AREA_LON0 + AREA_RES * np.arange(AREA_NLON)
    manifest = {"netcdf": [], "geotiff": []}
    grid_parts = []
    for month in AREA_MONTHS:
        start = np.datetime64(month, "M")
        hours = _hours(start, start + 1)
        fields = _weather(rng, hours, lat, lon)
        packed, cols = {}, {}
        for n, (s, o) in AREA_VARS.items():
            p = _pack(fields[n], s, o, rng, 0.01)
            packed[n] = _write_raw(raw, f"era5_{month}_{n}.bin", p)
            cols[n] = _decode(p, s, o)
        manifest["netcdf"].append(_nc_entry(
            os.path.join(inp, "era5", f"era5_{month}.nc"), hours, lat, lon,
            packed, AREA_VARS))
        t, la, lo = np.meshgrid(np.arange(len(hours)), lat, lon, indexing="ij")
        grid_parts.append(pa.table({
            "time": _ts_array(hours[t.ravel()]),
            "latitude": la.ravel(), "longitude": lo.ravel(), **cols}))
    pq.write_table(pa.concat_tables(grid_parts), os.path.join(stage, "grid.parquet"))

    # monthly water-table-depth rasters (float32, NaN holes), tiled 32x32
    wtd_rows = []
    ys, xs = np.meshgrid(np.arange(WTD_NY), np.arange(WTD_NX), indexing="ij")
    for month in AREA_MONTHS:
        base = 2.0 + 1.5 * np.sin(ys / 9.0) + np.cos(xs / 13.0)
        vals = (base + rng.normal(0, 0.3, base.shape)).astype("<f4")
        vals[rng.random(vals.shape) < 0.05] = np.nan
        stamp = month.replace("-", "") + "01"
        manifest["geotiff"].append({
            "path": os.path.join(inp, "wtd", f"wtd-area-{stamp}.tif"),
            "width": WTD_NX, "height": WTD_NY, "tile": 32,
            "raw": _write_raw(raw, f"wtd_{month}.bin", vals)})
        v = vals.ravel().astype(np.float64)
        wtd_rows.append(pa.table({
            "month": _ts_array(np.full(v.size, np.datetime64(month, "h"))),
            "wlat": WTD_LAT0 - ys.ravel().astype(np.float64) * WTD_RES,
            "wlon": WTD_LON0 + xs.ravel().astype(np.float64) * WTD_RES,
            "wtd": pa.array(v, mask=np.isnan(v))}))
    pq.write_table(pa.concat_tables(wtd_rows), os.path.join(stage, "wtd.parquet"))

    # monthly CO2 side table (dry-air ppm)
    months = np.array([np.datetime64(m, "h") for m in AREA_MONTHS])
    co2 = pa.table({"month": _ts_array(months),
                    "xco2": np.round(rng.uniform(405, 420, len(months)), 3)})
    os.makedirs(os.path.join(inp, "co2"))
    pq.write_table(co2, os.path.join(inp, "co2", "co2.parquet"))
    pq.write_table(co2, os.path.join(stage, "co2.parquet"))

    # GeoJSON regions: axis-aligned polygons, two of them overlapping the
    # others. Each edge lies half a grid step off the grid lines, jittered by
    # less than that, so every seed clips the same cells: the seed changes
    # the values, not the amount of work.
    feats, rows = [], []
    for i, (r0, r1, c0, c1) in enumerate(AREA_REGION_BOXES):
        jit = rng.uniform(-0.35, 0.35, 4) * AREA_RES
        n = float(np.round(AREA_LAT0 - AREA_RES * (r0 - 0.5) + jit[0], 3))
        s = float(np.round(AREA_LAT0 - AREA_RES * (r1 + 0.5) + jit[1], 3))
        w = float(np.round(AREA_LON0 + AREA_RES * (c0 - 0.5) + jit[2], 3))
        e = float(np.round(AREA_LON0 + AREA_RES * (c1 + 0.5) + jit[3], 3))
        rid = f"r{i:02d}"
        ring = [[w, s], [e, s], [e, n], [w, n], [w, s]]
        feats.append({"type": "Feature", "properties": {"id": rid},
                      "geometry": {"type": "Polygon", "coordinates": [ring]}})
        rows.append((rid, s, n, w, e))
    with open(os.path.join(inp, "regions.geojson"), "w") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f)
    pq.write_table(pa.table({k: [r[i] for r in rows] for i, k in
                             enumerate(["region_id", "s", "n", "w", "e"])}),
                   os.path.join(stage, "regions.parquet"))
    return manifest


def gen_station_gapfill(work, rng):
    raw, inp, stage = (os.path.join(work, d) for d in ("raw", "in", "stage"))
    hours = _hours(STATION_START, STATION_END)
    manifest = {"netcdf": [], "geotiff": []}
    st_parts, pt_parts = [], []
    for k in range(STATIONS):
        sid = f"st{k:03d}"
        lat = [float(np.round(rng.uniform(30, 60), 2))]
        lon = [float(np.round(rng.uniform(-120, -70), 2))]
        fields = _weather(rng, hours, lat, lon)
        packed, cols = {}, {}
        for n, (s, o) in POINT_VARS.items():
            p = _pack(fields[n], s, o, rng, 0.002)
            packed[n] = _write_raw(raw, f"{sid}_{n}.bin", p)
            cols[n] = _decode(p, s, o)
        nc = os.path.join(inp, sid, "era5_point.nc")
        manifest["netcdf"].append(_nc_entry(nc, hours, lat, lon, packed, POINT_VARS))
        pt_parts.append(pa.table({
            "station": [sid] * len(hours), "time": _ts_array(hours), **cols}))

        # station series: hourly rows + ~10% off-hour (:30) rows, shuffled;
        # each timestamp in one of the two formats the reference accepts
        off = hours[rng.random(len(hours)) < 0.10]
        ts = np.concatenate([hours.astype("datetime64[m]"),
                             off.astype("datetime64[m]") + 30])
        ts = ts[rng.permutation(len(ts))]
        compact_fmt = rng.random(len(ts)) < 0.5
        ts_str = [f"{x[0:4]}{x[5:7]}{x[8:10]}{x[11:13]}{x[14:16]}" if c
                  else x.replace("T", " ")
                  for x, c in zip(np.datetime_as_string(ts, unit="s").tolist(),
                                  compact_fmt.tolist())]
        idx = (ts.astype("datetime64[h]") - hours[0]).astype(np.int64)
        cents = {
            "TA": np.rint((fields["t2m"].ravel()[idx] - 273.15
                           + rng.normal(0, 0.8, len(ts))) * 100),
            "RH": np.rint(rng.uniform(20, 100, len(ts)) * 100),
            "PA": np.rint((fields["sp"].ravel()[idx] / 1000
                           + rng.normal(0, 0.2, len(ts))) * 100),
            "WS": np.rint(np.abs(rng.normal(3, 2, len(ts))) * 100),
        }
        table, cells = {"ts": ts_str}, [ts_str]
        for v in STATION_VARS:
            vals = cents[v] / 100.0
            miss = rng.random(len(ts)) < 0.10
            table[v] = pa.array(vals, mask=miss)
            cells.append(["" if m else f"{x:.2f}"
                          for x, m in zip(vals.tolist(), miss.tolist())])
        os.makedirs(os.path.join(inp, sid), exist_ok=True)
        csv = os.path.join(inp, sid, "station.csv")
        with open(csv, "w") as f:
            f.write("timestamp," + ",".join(STATION_VARS) + "\n")
            f.write("\n".join(map(",".join, zip(*cells))) + "\n")
        st_parts.append(pa.table({"station": [sid] * len(ts), **table}))
    pq.write_table(pa.concat_tables(st_parts), os.path.join(stage, "stations.parquet"))
    pq.write_table(pa.concat_tables(pt_parts), os.path.join(stage, "points.parquet"))
    return manifest


def _vocab(rng, n):
    syl = ["ka", "to", "ri", "mo", "sen", "lu", "pa", "ve", "dor", "qi",
           "na", "bel", "ur", "fi", "zo", "tam", "ex", "gri", "ho", "lin"]
    words = set()
    while len(words) < n:
        k = rng.integers(2, 4)
        words.add("".join(syl[i] for i in rng.integers(0, len(syl), k)))
    return sorted(words)


def _doc_tokens(rng, vocab, lang, low_quality):
    n = int(np.clip(rng.normal(70, 25), 12, 180))
    if low_quality:
        n = int(rng.integers(3, 12))
    stop = STOPWORDS[lang]
    toks = []
    for _ in range(n):
        if stop and rng.random() < 0.25:
            toks.append(stop[rng.integers(0, len(stop))])
        else:
            toks.append(vocab[rng.integers(0, len(vocab))])
    return toks


def _render(rng, toks, noisy):
    out = []
    for i, t in enumerate(toks):
        out.append(t)
        if noisy:
            out.append("!!" if rng.random() < 0.5 else "#$%")
        elif i % 11 == 10:
            out[-1] = t + ("." if rng.random() < 0.7 else ",")
    return " ".join(out)


def gen_llm_curation(work, rng):
    inp, stage = os.path.join(work, "in"), os.path.join(work, "stage")
    vocab = _vocab(rng, 3000)
    langs = [l for l, _ in LLM_LANGS]
    lang_p = np.array([p for _, p in LLM_LANGS])
    src_p = 1.0 / np.arange(1, LLM_SOURCES + 1) ** 1.1
    src_p /= src_p.sum()

    evals = [" ".join(_doc_tokens(rng, vocab, "en", False))
             for _ in range(LLM_EVAL_DOCS)]
    # fixed counts of low-quality, contaminated and chain-starting docs, so
    # every seed yields the same number of documents
    n = LLM_BASE_DOCS
    pick = rng.permutation(n)
    n_low, n_contam = int(LLM_LOW * n), int(LLM_CONTAM * n)
    low = set(pick[:n_low].tolist())
    contam = set(pick[n_low:n_low + n_contam].tolist())
    chain = set(pick[n_low + n_contam:n_low + n_contam + int(LLM_CHAIN_SHARE * n)].tolist())
    docs = []  # (tokens, text, source)
    for i in range(n):
        lang = langs[rng.choice(len(langs), p=lang_p)]
        toks = _doc_tokens(rng, vocab, lang, i in low)
        if i in contam:
            ev = evals[rng.integers(0, LLM_EVAL_DOCS)].split(" ")
            at = int(rng.integers(0, max(1, len(ev) - 10)))
            pos = int(rng.integers(0, len(toks)))
            toks = toks[:pos] + ev[at:at + 10] + toks[pos:]
        src = f"src{rng.choice(LLM_SOURCES, p=src_p):02d}"
        docs.append((toks, _render(rng, toks, i in low and rng.random() < 0.5), src))
        if i in chain:
            cur = list(toks)
            for _ in range(LLM_CHAIN_LEN):
                cur = list(cur)
                for _ in range(int(rng.integers(1, 3))):
                    cur[int(rng.integers(0, len(cur)))] = vocab[rng.integers(0, len(vocab))]
                docs.append((cur, _render(rng, cur, False), src))
    for i in rng.choice(len(docs), int(LLM_EXACT_DUP * len(docs)), replace=False):
        docs.append(docs[i])
    order = rng.permutation(len(docs))
    table = pa.table({
        "doc_id": np.arange(len(docs), dtype=np.int64),
        "text": [docs[i][1] for i in order],
        "source": [docs[i][2] for i in order]})
    os.makedirs(os.path.join(inp, "docs"))
    os.makedirs(os.path.join(inp, "eval"))
    pq.write_table(table, os.path.join(inp, "docs", "docs.parquet"))
    ev = pa.table({"eval_id": np.arange(LLM_EVAL_DOCS, dtype=np.int64),
                   "text": evals})
    pq.write_table(ev, os.path.join(inp, "eval", "eval.parquet"))
    pq.write_table(table, os.path.join(stage, "docs.parquet"))
    pq.write_table(ev, os.path.join(stage, "eval.parquet"))
    return {"netcdf": [], "geotiff": []}


GENERATORS = {"era5_area": gen_era5_area, "station_gapfill": gen_station_gapfill,
              "llm_curation": gen_llm_curation}


def generate(workload, seed, work):
    for d in ("raw", "in", "stage"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    manifest = GENERATORS[workload](work, rng_for(workload, seed))
    path = os.path.join(work, "raw", "manifest.json")
    with open(path, "w") as f:
        json.dump(manifest, f)
    return manifest


def _size(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def describe(work):
    """Row count and on-disk size of every staged table and input dir."""
    stage = os.path.join(work, "stage")
    out = {"stage": {}, "inputs_mb": round(_size(os.path.join(work, "in")) / 2**20, 3)}
    for f in sorted(os.listdir(stage)):
        p = os.path.join(stage, f)
        out["stage"][f] = {"rows": pq.ParquetFile(p).metadata.num_rows,
                           "mb": round(_size(p) / 2**20, 3)}
    return out
