"""Independent DuckDB oracle for the pipeline benchmark.

Each workload's expected output is recomputed in SQL over the parquet
staging of its inputs (``stage/``, written by the generator straight from
its numpy arrays, so the program's NetCDF/GeoTIFF/CSV readers are not on
the oracle's path). Every operation's committed output is then compared
with it: same row set on the key columns, strings and integers equal,
doubles equal within a relative 1e-6 (aggregation order differs between
engines). The LLM SQL reuses the shapes of the registry's q60 (LSH +
verify), q69 (connected components), q85 (gate + exact dedup), q87
(decontamination), q88 (per-language cap) and q100 (packing) oracles.
"""
import os

import duckdb

import gen

REL_TOL = 1e-6


def _close(x, y, dtype):
    if dtype in ("DOUBLE", "FLOAT"):
        return (f"(({x} IS NULL AND {y} IS NULL) OR "
                f"abs({x} - {y}) <= {REL_TOL} * greatest(1.0, abs({y})))")
    return f"({x} IS NOT DISTINCT FROM {y})"


def diff(con, expected, actual, keys):
    """Why relation `actual` differs from table `expected`, or None."""
    con.sql(f"CREATE OR REPLACE TEMP TABLE actual AS {actual}")
    rel = con.sql(f"SELECT * FROM {expected} LIMIT 0")
    types = dict(zip(rel.columns, [str(t) for t in rel.types]))
    got = con.sql("SELECT * FROM actual LIMIT 0").columns
    if sorted(got) != sorted(types):
        return f"columns {sorted(got)} != expected {sorted(types)}"
    n_exp = con.sql(f"SELECT count(*) FROM {expected}").fetchone()[0]
    n_act = con.sql("SELECT count(*) FROM actual").fetchone()[0]
    if n_exp != n_act:
        return f"{n_act} rows, expected {n_exp}"
    on = " AND ".join(f"e.{k} IS NOT DISTINCT FROM a.{k}" for k in keys)
    same = " AND ".join(_close(f"e.{c}", f"a.{c}", t)
                        for c, t in types.items() if c not in keys)
    bad = con.sql(f"""SELECT count(*) FROM (SELECT *, 1 AS __e FROM {expected}) e
        FULL JOIN (SELECT *, 1 AS __a FROM actual) a ON {on}
        WHERE e.__e IS NULL OR a.__a IS NULL OR NOT ({same or 'true'})""").fetchone()[0]
    return f"{bad} of {n_exp} rows differ" if bad else None


# ---- shared formula fragments (the engine's Conversions, restated) ----

def _rh(t, d):
    ga = f"(({t} - 273.15) * 17.625) / (({t} - 273.15) + 243.04)"
    gd = f"(({d} - 273.15) * 17.625) / (({d} - 273.15) + 243.04)"
    return f"(exp({gd} - {ga}) * 100.0)"


def _es_kpa(t):
    tc = f"({t} - 273.15)"
    return (f"(CASE WHEN {tc} >= 0 THEN exp({tc} * 17.27 / ({tc} + 237.3)) "
            f"ELSE exp({tc} * 21.875 / ({tc} + 265.5)) END * 0.61078)")


def _vpd(t, d):
    return f"({_es_kpa(t)} * (1.0 - {_rh(t, d)} / 100.0) * 10.0)"


def _co2(t, d, sp, x):
    xw = f"(({_rh(t, d)} / 100.0) * ({_es_kpa(t)} * 1000.0) / {sp})"
    xd = f"({xw} / (1.0 - {xw}))"
    return (f"({x} / (CAST(0.7808 AS DOUBLE) + CAST(0.2095 AS DOUBLE) "
            f"+ CAST(0.0093 AS DOUBLE) + {x} / 1e6 + {xd}))")


def _ws(u, v):
    return f"sqrt({u} * {u} + {v} * {v})"


def _stage(work, name):
    return f"read_parquet('{os.path.join(work, 'stage', name)}')"


# ---- era5_area --------------------------------------------------------------

def _era5_expected(con, work):
    grid, wtd = _stage(work, "grid.parquet"), _stage(work, "wtd.parquet")
    co2, regions = _stage(work, "co2.parquet"), _stage(work, "regions.parquet")

    def nearest(axis, w):
        return f"""(SELECT {axis}, {w} AS {w}_n FROM (SELECT l.{axis}, r.{w},
            row_number() OVER (PARTITION BY l.{axis}
              ORDER BY abs(l.{axis} - r.{w}), r.{w}) AS rn
            FROM (SELECT DISTINCT {axis} FROM g) l
            CROSS JOIN (SELECT DISTINCT {w} FROM w) r) WHERE rn = 1)"""

    aggs = [("TA", "avg", "mean"), ("TA", "stddev_samp", "std"), ("TA", "min", "min"),
            ("TA", "max", "max"), ("PA", "avg", "mean"), ("P", "sum", "sum"),
            ("P", "max", "max_daily"), ("RH", "avg", "mean"),
            ("RH", "stddev_samp", "std"), ("VPD", "avg", "mean"),
            ("VPD", "stddev_samp", "std"), ("WS", "avg", "mean"),
            ("WS", "stddev_samp", "std"), ("SW_IN", "avg", "mean"),
            ("SW_IN", "stddev_samp", "std"), ("SW_IN", "sum", "total"),
            ("CO2", "avg", "mean"), ("WTD", "avg", "mean")]
    con.sql(f"""CREATE TABLE expected AS
        WITH g AS (SELECT *, date_trunc('month', time) AS month FROM {grid}),
        w AS (SELECT * FROM {wtd}),
        latmap AS {nearest('latitude', 'wlat')},
        lonmap AS {nearest('longitude', 'wlon')},
        side AS (SELECT w.month, lm.latitude, om.longitude, w.wtd FROM w
          JOIN latmap lm ON w.wlat = lm.wlat_n JOIN lonmap om ON w.wlon = om.wlon_n),
        e AS (SELECT g.*, c.xco2, s.wtd FROM g
          LEFT JOIN {co2} c ON g.month = c.month
          LEFT JOIN side s ON g.month = s.month AND g.latitude = s.latitude
            AND g.longitude = s.longitude),
        clip AS (SELECT r.region_id, e.* FROM e JOIN {regions} r
          ON e.latitude BETWEEN r.s AND r.n AND e.longitude BETWEEN r.w AND r.e),
        conv AS (SELECT region_id, latitude, longitude, time,
          t2m - 273.15 AS TA, {_rh('t2m', 'd2m')} AS RH, {_vpd('t2m', 'd2m')} AS VPD,
          sp / 1000.0 AS PA, {_ws('u10', 'v10')} AS WS, avg_sdswrf AS SW_IN,
          tp AS P, {_co2('t2m', 'd2m', 'sp', 'xco2')} AS CO2, wtd AS WTD FROM clip)
        SELECT epoch_us(date_trunc('month', time)) AS period, region_id,
          latitude, longitude,
          {', '.join(f'{f}({v}) AS {v}_{n}' for v, f, n in aggs)}
        FROM conv GROUP BY ALL""")


def _era5_actual(op):
    return (f"SELECT * EXCLUDE (period), epoch_us(period) AS period FROM "
            f"read_parquet('{op['out']}/*/*.parquet', hive_partitioning = true)")


# ---- station_gapfill ----------------------------------------------------------

def _station_expected(con, work):
    st, pts = _stage(work, "stations.parquet"), _stage(work, "points.parquet")
    lo, hi = gen.STATION_RANGE
    con.sql(f"""CREATE TABLE expected_all AS
        WITH s AS (SELECT station, coalesce(try_strptime(ts, '%Y-%m-%d %H:%M:%S'),
            try_strptime(ts, '%Y%m%d%H%M')) AS t, PA, RH, TA, WS FROM {st}),
        f AS (SELECT * FROM s WHERE t IS NOT NULL
          AND t BETWEEN TIMESTAMP '{lo}' AND TIMESTAMP '{hi}'
          AND minute(t) = 0 AND second(t) = 0
          AND (PA IS NULL OR RH IS NULL OR TA IS NULL OR WS IS NULL))
        SELECT f.station, epoch_us(f.t) AS timestamp,
          f.PA AS PA_AMF, p.sp / 1000.0 AS PA_ERA5,
          f.RH AS RH_AMF, {_rh('p.t2m', 'p.d2m')} AS RH_ERA5,
          f.TA AS TA_AMF, p.t2m - 273.15 AS TA_ERA5,
          f.WS AS WS_AMF, {_ws('p.u10', 'p.v10')} AS WS_ERA5
        FROM f LEFT JOIN {pts} p ON p.station = f.station AND p.time = f.t""")


def _station_actual(op):
    cols = ", ".join(f"'{c}': 'DOUBLE'" for c in
                     ("PA_AMF", "PA_ERA5", "RH_AMF", "RH_ERA5",
                      "TA_AMF", "TA_ERA5", "WS_AMF", "WS_ERA5"))
    return (f"SELECT * EXCLUDE (timestamp), epoch_us(CAST(replace(replace("
            f"timestamp, 'T', ' '), 'Z', '') AS TIMESTAMP)) AS timestamp "
            f"FROM read_csv('{op['out']}/*.csv', header = true, "
            f"columns = {{'timestamp': 'VARCHAR', {cols}}})")


# ---- llm_curation -------------------------------------------------------------

WORDS = ("list_filter(string_split_regex(trim(regexp_replace(lower(text), "
         "'[^a-z0-9 ]', ' ', 'g')), ' +'), x -> x != '')")


def _ph(arg):
    return (f"list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(unicode(c) AS BIGINT) "
            f"for c in string_split({arg}, '')]), (a,b) -> (a*31+b) % 1000000007)")


def _llm_expected(con, work):
    docs, ev = _stage(work, "docs.parquet"), _stage(work, "eval.parquet")
    langs = [l for l in gen.STOPWORDS if gen.STOPWORDS[l]]
    counts = ", ".join(
        f"CAST(len(list_filter(words, w -> list_contains("
        f"{[w for w in gen.STOPWORDS[l]]}, w))) AS INT) AS c_{l}" for l in langs)
    maxc = "greatest(" + ",".join(f"c_{l}" for l in langs) + ")"
    lang_case = ("CASE " + " ".join(f"WHEN {maxc} = c_{l} AND c_{l} > 0 THEN '{l}'"
                                     for l in langs) + " ELSE 'und' END")
    shingles = ("list_distinct([" + _ph("array_to_string(words[i+1:i+3], ' ')") +
                " for i in range(CASE WHEN len(words) >= 3 THEN len(words)-2 ELSE 0 END)])")
    perms = "[" + ", ".join(
        f"list_min([ (h*CAST({2 * i + 1} AS BIGINT)+CAST({12345 * i + 7} AS BIGINT))"
        f" % 1000000007 for h in hs ])" for i in range(16)) + "]"
    jac = ("CASE WHEN len(list_distinct(a.hs || b.hs)) > 0 THEN "
           "CAST(len(list_filter(a.hs, x -> list_contains(b.hs, x))) AS DOUBLE) / "
           "CAST(len(list_distinct(a.hs || b.hs)) AS DOUBLE) ELSE CAST(0 AS DOUBLE) END")
    grams8 = ("[array_to_string(words[i+1:i+8], ' ') for i in range("
              "CASE WHEN len(words) >= 8 THEN len(words)-7 ELSE 0 END)]")
    # materialized step by step: DuckDB would otherwise re-derive the
    # shingle sets per reference and the verified pairs per recursion step
    con.sql(f"""CREATE TEMP TABLE kept AS
        WITH t AS (SELECT doc_id, text, source, {WORDS} AS words FROM {docs}),
        lang AS (SELECT doc_id, {counts} FROM t),
        lp AS (SELECT doc_id, {lang_case} AS lang_pred FROM lang),
        f AS (SELECT doc_id, text, source, words,
          CAST(len(words) AS DOUBLE) AS n_tokens,
          CASE WHEN length(text) > 0 THEN
            CAST(length(text) - length(regexp_replace(lower(text),
              '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
              / CAST(length(text) AS DOUBLE) END AS punct_ratio,
          CASE WHEN len(words) > 0 THEN
            CAST(len(list_filter(words, w -> list_contains(
              ['the','a','of','and','to','in','is','it'], w))) AS DOUBLE)
              / CAST(len(words) AS DOUBLE) END AS stopword_ratio FROM t),
        gate AS (SELECT f.doc_id, f.text, f.source, f.words, lp.lang_pred FROM f
          JOIN lp USING (doc_id)
          WHERE coalesce((least(n_tokens / CAST(100 AS DOUBLE), CAST(1 AS DOUBLE))
            + (1 - least(punct_ratio * 5, CAST(1 AS DOUBLE)))
            + least(stopword_ratio * 4, CAST(1 AS DOUBLE)))
            / CAST(3 AS DOUBLE), CAST(0 AS DOUBLE)) >= CAST(0.3 AS DOUBLE))
        SELECT * FROM gate WHERE doc_id IN
          (SELECT min(doc_id) FROM gate GROUP BY md5(text))""")
    con.sql(f"CREATE TEMP TABLE sh AS SELECT doc_id, {shingles} AS hs FROM kept")
    con.sql(f"""CREATE TEMP TABLE edges AS
        WITH sg AS (SELECT doc_id, {perms} AS sig FROM sh),
        banded0 AS (SELECT doc_id, sig, b,
          list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*4+1:b*4+4]),
            (a, x) -> (a*31 + x % 1000000007) % 1000000007) AS key
          FROM sg CROSS JOIN (SELECT unnest(range(4)) AS b)),
        banded AS (SELECT doc_id, sig, b, key FROM (SELECT *,
          count(*) OVER (PARTITION BY b, key) AS bucket_n FROM banded0)
          WHERE bucket_n <= 1000),
        pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
          CAST(len(list_filter(range(16), i -> x.sig[i+1] = y.sig[i+1]))
            AS DOUBLE) / CAST(16 AS DOUBLE) AS est_jaccard
          FROM banded x JOIN banded y ON x.b = y.b AND x.key = y.key
          WHERE x.doc_id < y.doc_id),
        verified AS (SELECT c.doc_a, c.doc_b FROM pairs c
          JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b
          WHERE c.est_jaccard >= CAST(0.3 AS DOUBLE) AND {jac} >= CAST(0.8 AS DOUBLE))
        SELECT doc_a AS s, doc_b AS d FROM verified
        UNION ALL SELECT doc_b, doc_a FROM verified""")
    con.sql(f"""CREATE TABLE expected AS
        WITH RECURSIVE reach(s, d) AS (SELECT DISTINCT s, s FROM edges
          UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        clusters AS (SELECT s AS doc, min(d) AS cluster FROM reach GROUP BY s),
        pruned AS (SELECT * FROM kept WHERE doc_id NOT IN
          (SELECT doc FROM clusters WHERE doc <> cluster)),
        ev AS (SELECT {WORDS} AS words FROM {ev}),
        bench AS (SELECT DISTINCT unnest({grams8}) AS gram FROM ev),
        hit AS (SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest({grams8}) AS gram
          FROM pruned) WHERE gram IN (SELECT gram FROM bench)),
        clean AS (SELECT * FROM pruned WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
        capped AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY lang_pred
          ORDER BY {_ph('text')}, doc_id) AS rk FROM clean) WHERE rk <= 1500),
        packed AS (SELECT source, doc_id, CAST(len(words) AS INT) AS n_tokens,
          coalesce(sum(len(words)) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
          FROM capped)
        SELECT source, doc_id, n_tokens, CAST(strt // 2048 AS BIGINT) AS bin
        FROM packed""")


def _llm_actual(op):
    return f"SELECT * FROM read_parquet('{op['out']}/*.parquet')"


ORACLES = {
    "era5_area": (_era5_expected, _era5_actual, ["period", "region_id",
                                                 "latitude", "longitude"]),
    "station_gapfill": (_station_expected, _station_actual, ["timestamp"]),
    "llm_curation": (_llm_expected, _llm_actual, ["doc_id"]),
}


def check(workload, work, ops):
    """[(op, reason)] for every op whose output does not match the oracle."""
    expected, actual, keys = ORACLES[workload]
    con = duckdb.connect()
    con.sql(f"SET temp_directory = '{os.path.join(work, 'tmp')}'")
    expected(con, work)
    bad = []
    for op in ops:
        table = "expected"
        if workload == "station_gapfill":
            con.sql(f"""CREATE OR REPLACE TEMP TABLE expected AS SELECT * EXCLUDE (station)
                FROM expected_all WHERE station = '{op['key']}'""")
        try:
            why = diff(con, table, actual(op), keys)
        except duckdb.Error as e:
            why = f"unreadable output: {e}"
        if why:
            bad.append((op, why))
    con.close()
    return bad
