"""DuckDB oracle SQL for each entry in plans/queries.py.

The driver runs these on views (documents, nation, lineitem, events,
embeddings, ...) over the same parquet the Spark queries read.  Texts
recompute the pipeline numerically from the shared derivation spec —
see sources/oracle.py docstring for why agreement validates the whole
Spark path.
"""

from __future__ import annotations

import functools

from ..functions.geo import haversine_km_sql
from ..functions.text import (
    fingerprint_sql,
    punct_ratio_sql,
    quality_score_sql,
    token_count_sql,
)
from ..functions.tiles import tile_id_sql
from ..sources import oracle as geo_oracle
from ..sources import synthspec


def tile_counts() -> str:
    return geo_oracle.tile_counts_sql(zoom=10)


def region_join_counts() -> str:
    return geo_oracle.region_join_counts_sql()


def pip_triangle_counts() -> str:
    return geo_oracle.pip_triangle_counts_sql()


def pip_polygon_counts() -> str:
    return geo_oracle.pip_polygon_counts_sql()


def knn_counts() -> str:
    return geo_oracle.knn_counts_sql()


def hotspot_share() -> str:
    return geo_oracle.hotspot_cell_share_sql(zoom=10)


def affine_fit() -> str:
    """Closed-form normal-equation solve (Cramer) over the GCP VALUES
    — the sufficient-statistics formulation of the reference's lstsq
    fit (transforms.py:458-485)."""
    vals = ", ".join(
        f"({sx!r}e0, {sy!r}e0, {dx!r}e0, {dy!r}e0)"
        for sx, sy, dx, dy in synthspec.GCPS_PX_GEO
    )

    def cramer(rhs1: str, rhs2: str, rhs3: str) -> tuple[str, str, str]:
        det = (
            "(sxx*(syy*n - sy_*sy_) - sxy*(sxy*n - sy_*sx_) "
            "+ sx_*(sxy*sy_ - syy*sx_))"
        )
        d0 = (
            f"({rhs1}*(syy*n - sy_*sy_) - sxy*({rhs2}*n - sy_*{rhs3}) "
            f"+ sx_*({rhs2}*sy_ - syy*{rhs3}))"
        )
        d1 = (
            f"(sxx*({rhs2}*n - sy_*{rhs3}) - {rhs1}*(sxy*n - sy_*sx_) "
            f"+ sx_*(sxy*{rhs3} - {rhs2}*sx_))"
        )
        d2 = (
            f"(sxx*(syy*{rhs3} - {rhs2}*sy_) - sxy*(sxy*{rhs3} - {rhs2}*sx_) "
            f"+ {rhs1}*(sxy*sy_ - syy*sx_))"
        )
        return f"{d0}/{det}", f"{d1}/{det}", f"{d2}/{det}"

    ax = cramer("sxu", "syu", "su")
    ay = cramer("sxv", "syv", "sv")
    cols = []
    for name, expr in zip(
        ("a00_e6", "a01_e6", "a02_e6", "a10_e6", "a11_e6", "a12_e6"), ax + ay
    ):
        cols.append(f"cast(round(({expr}) * 1000000e0) as bigint) AS {name}")
    return f"""
WITH g(sx, sy, dx, dy) AS (VALUES {vals}),
m AS (
    SELECT cast(count(*) as double) AS n,
           sum(sx*sx) AS sxx, sum(sx*sy) AS sxy, sum(sy*sy) AS syy,
           sum(sx) AS sx_, sum(sy) AS sy_,
           sum(sx*dx) AS sxu, sum(sy*dx) AS syu, sum(dx) AS su,
           sum(sx*dy) AS sxv, sum(sy*dy) AS syv, sum(dy) AS sv
    FROM g
)
SELECT {', '.join(cols)} FROM m
"""


def span_pair_distance() -> str:
    e = synthspec.point_exprs_sql("doc_num")
    hav = haversine_km_sql("lon0", "lat0", "lon1", "lat1")
    return f"""
WITH ids AS (SELECT (l_orderkey * 8 + l_linenumber) AS doc_num FROM lineitem),
paired AS (
    SELECT round({e['lon']}, 4) AS lon0, round({e['lat']}, 4) AS lat0,
           {e['lon2']} AS lon1, {e['lat2']} AS lat1
    FROM ids WHERE {e['has_second']}
),
d AS (SELECT {hav} AS dist_km FROM paired)
SELECT cast(round(sqrt(avg(dist_km * dist_km)) * 10000e0) as bigint) AS rmse_e4,
       cast(round(avg(abs(dist_km)) * 10000e0) as bigint) AS mae_e4,
       cast(round(max(abs(dist_km)) * 10000e0) as bigint) AS max_e4,
       count(*) AS n_pairs
FROM d
"""


def polygon_areas() -> str:
    """SQL twin of q_polygon_areas via FIRST-PRINCIPLES triangle
    formulas (not the shoelace pipeline): area2 as the direct cross
    product of two edges, centroid as the vertex mean — equal to the
    closed-ring shoelace only when the general operator pairs and
    closes edges correctly."""
    from ..sources.oracle import boxes_cte

    return f"""
WITH {boxes_cte()},
tris AS (
    SELECT region_id,
           cast((lon_min + 8.0)  * 100000 as bigint) AS x1,
           cast((lat_min + 4.0)  * 100000 as bigint) AS y1,
           cast((lon_min + 64.0) * 100000 as bigint) AS x2,
           cast((lat_min + 10.0) * 100000 as bigint) AS y2,
           cast((lon_min + 30.0) * 100000 as bigint) AS x3,
           cast((lat_max - 4.0)  * 100000 as bigint) AS y3
    FROM boxes
)
SELECT cast(region_id as bigint) AS region_id,
       cast(3 as bigint) AS n_vertices,
       cast((x2 - x1) * (y3 - y1) - (x3 - x1) * (y2 - y1) as bigint)
         AS area2,
       cast(round(((x1 + x2 + x3) / 3.0e0) * 1000000e0) as bigint)
         AS cx_e6,
       cast(round(((y1 + y2 + y3) / 3.0e0) * 1000000e0) as bigint)
         AS cy_e6
FROM tris
ORDER BY 1
"""


def vector_transform() -> str:
    from .queries import VECTOR_AFFINE as A

    def t(xe, ye):
        px = f"({A[0][0]!r}e0 * ({xe}) + {A[0][1]!r}e0 * ({ye}) + {A[0][2]!r}e0)"
        py = f"({A[1][0]!r}e0 * ({xe}) + {A[1][1]!r}e0 * ({ye}) + {A[1][2]!r}e0)"
        return (
            f"cast(round({px} * 1000000e0) as bigint) AS x_e6, "
            f"cast(round({py} * 1000000e0) as bigint) AS y_e6"
        )

    return f"""
WITH {geo_oracle.boxes_cte()},
tris AS (
    SELECT region_id,
           cast(cast((lon_min + 8.0)  * 100000 as bigint) as double)/100000.0 AS x1,
           cast(cast((lat_min + 4.0)  * 100000 as bigint) as double)/100000.0 AS y1,
           cast(cast((lon_min + 64.0) * 100000 as bigint) as double)/100000.0 AS x2,
           cast(cast((lat_min + 10.0) * 100000 as bigint) as double)/100000.0 AS y2,
           cast(cast((lon_min + 30.0) * 100000 as bigint) as double)/100000.0 AS x3,
           cast(cast((lat_max - 4.0)  * 100000 as bigint) as double)/100000.0 AS y3
    FROM boxes
)
SELECT region_id, 0 AS pt_seq, {t('x1', 'y1')} FROM tris
UNION ALL
SELECT region_id, 1 AS pt_seq, {t('x2', 'y2')} FROM tris
UNION ALL
SELECT region_id, 2 AS pt_seq, {t('x3', 'y3')} FROM tris
ORDER BY region_id, pt_seq
"""


def projective_transform() -> str:
    from ..functions.geo import projective_predict_sql
    from .queries import PROJECTIVE_H

    px, py = projective_predict_sql(PROJECTIVE_H, "lon", "lat")
    return f"""
WITH {geo_oracle.points_cte()},
t AS (SELECT {px} AS px, {py} AS py FROM pts)
SELECT count(*) AS n_points,
       cast(round(sum(px) * 10000e0) as bigint) AS sum_px_e4,
       cast(round(sum(py) * 10000e0) as bigint) AS sum_py_e4,
       cast(round(min(px) * 1000000e0) as bigint) AS min_px_e6,
       cast(round(max(py) * 1000000e0) as bigint) AS max_py_e6
FROM t
"""


def mercator_cells() -> str:
    """SQL twin of q_mercator_cells: same spherical web-Mercator
    formula (functions/geo.py:mercator_forward_sql) over the shared
    point derivation; numpy-vs-libm 1-ulp differences are absorbed by
    the per-point meter rounding before the sum."""
    from ..functions.geo import mercator_forward_sql

    mx, my = mercator_forward_sql("lon", "lat")
    return f"""
WITH {geo_oracle.points_cte()},
m AS (SELECT {mx} AS mx, {my} AS my FROM pts)
SELECT cast(floor(mx / 2000000.0e0) as bigint) AS cell_x,
       cast(floor(my / 2000000.0e0) as bigint) AS cell_y,
       count(*) AS n_points,
       cast(sum(cast(round(mx) as bigint)) as bigint) AS sum_mx_m,
       cast(sum(cast(round(my) as bigint)) as bigint) AS sum_my_m
FROM m
GROUP BY 1, 2
ORDER BY 1, 2
"""


def poly_roundtrip() -> str:
    """SQL twin of q_poly_roundtrip — retired from rows-only in round
    3: the order-2 inverse has no closed form, but the swapped-refit
    estimate (reference transforms.py:201-206) happens DRIVER-side at
    plan-build time, so both the forward and inverse matrices embed as
    literals exactly like affine_fit/tin_transform.  The oracle runs
    the identical forward→inverse polynomial arithmetic
    (functions/geo.polynomial_predict_sql, same term order) over the
    same derived px-space points; numpy-dot vs SQL-sum ulp differences
    are absorbed by the 1e-6 rounding of O(0.01..1 px) error stats."""
    from ..fixtures import CHINA22_GEOPOINTS, CHINA22_IMPOINTS
    from ..functions.geo import polynomial_predict_sql
    from ..kernels import Polynomial

    imx, imy = zip(*CHINA22_IMPOINTS)
    gx, gy = zip(*CHINA22_GEOPOINTS)
    trans = Polynomial(order=2).fit(imx, imy, gx, gy)
    fx, fy = polynomial_predict_sql(trans.A, 2, "x", "y")
    bx, by = polynomial_predict_sql(trans.inverse().A, 2, "fx", "fy")
    return f"""
WITH {geo_oracle.points_cte()},
px AS (SELECT ((lon + 180.0e0) * 3.0e0) AS x, ((lat + 85.0e0) * 5.5e0) AS y FROM pts),
f AS (SELECT x, y, {fx} AS fx, {fy} AS fy FROM px),
b AS (SELECT x, y, {bx} AS bx, {by} AS by FROM f),
e AS (SELECT sqrt(pow(bx - x, 2) + pow(by - y, 2)) AS err FROM b)
SELECT count(*) AS n_points,
       cast(round(sqrt(avg(pow(err, 2))) * 1000000e0) as bigint) AS rmse_e6,
       cast(round(max(err) * 1000000e0) as bigint) AS max_e6
FROM e
"""


def loo_residuals() -> str:
    """SQL twin of q_loo_residuals — retired from rows-only in round
    3 by the same pattern as tin_transform/poly_roundtrip: the 22
    leave-one-out REFITS are reproduced driver-side here and embedded
    as literal matrices; DuckDB then independently evaluates the
    order-2 predict + R=6367 haversine residual for each held-out GCP
    (functions/geo: polynomial_predict_sql + haversine_km_sql).  This
    gates the distributed applyInPandas fit path against driver-side
    fits with SQL-evaluated arithmetic."""
    from ..fixtures import CHINA22_GEOPOINTS, CHINA22_IMPOINTS
    from ..functions.geo import (
        dlit_sql,
        haversine_km_sql,
        polynomial_predict_sql,
    )
    from ..kernels import Polynomial

    n = len(CHINA22_IMPOINTS)
    selects = []
    for h in range(n):
        keep = [i for i in range(n) if i != h]
        sx = [CHINA22_IMPOINTS[i][0] for i in keep]
        sy = [CHINA22_IMPOINTS[i][1] for i in keep]
        dx = [CHINA22_GEOPOINTS[i][0] for i in keep]
        dy = [CHINA22_GEOPOINTS[i][1] for i in keep]
        t = Polynomial(order=2).fit(sx, sy, dx, dy)
        hx, hy = CHINA22_IMPOINTS[h]
        gx, gy = CHINA22_GEOPOINTS[h]
        px, py = polynomial_predict_sql(t.A, 2, dlit_sql(hx), dlit_sql(hy))
        d = haversine_km_sql(dlit_sql(gx), dlit_sql(gy), px, py)
        selects.append(
            f"SELECT {h} AS gcp_id, cast(round({d} * 1000000e0) as bigint) AS resid_e6"
        )
    body = "\nUNION ALL\n".join(selects)
    return f"{body}\nORDER BY gcp_id"


def mollweide_cells() -> str:
    """SQL twin of q_mollweide_cells: the identical fixed-iteration
    Newton fold (functions/geo.py:mollweide_forward_sql, DuckDB
    list_reduce) — same constants, same op order, ulp differences
    absorbed by per-point meter rounding."""
    from ..functions.geo import mollweide_forward_sql

    mx, my = mollweide_forward_sql("lon", "lat")
    return f"""
WITH {geo_oracle.points_cte()},
m AS (SELECT {mx} AS mx, {my} AS my FROM pts)
SELECT cast(floor(mx / 2000000.0e0) as bigint) AS cell_x,
       cast(floor(my / 2000000.0e0) as bigint) AS cell_y,
       count(*) AS n_points,
       cast(sum(cast(round(mx) as bigint)) as bigint) AS sum_mx_m,
       cast(sum(cast(round(my) as bigint)) as bigint) AS sum_my_m
FROM m
GROUP BY 1, 2
ORDER BY 1, 2
"""


def polar_cells() -> str:
    """SQL twin of q_polar_cells: identical EPSG GN7-2 variant-B
    arithmetic (functions/geo.polar_stereographic_forward_sql, same
    driver-side constants), meter rounding before the sums."""
    from ..functions.geo import polar_stereographic_forward_sql

    mx, my = polar_stereographic_forward_sql("lon", "lat", -71.0)
    return f"""
WITH {geo_oracle.points_cte()},
m AS (SELECT {mx} AS mx, {my} AS my FROM pts)
SELECT cast(floor(mx / 5000000.0e0) as bigint) AS cell_x,
       cast(floor(my / 5000000.0e0) as bigint) AS cell_y,
       count(*) AS n_points,
       cast(sum(cast(round(mx) as bigint)) as bigint) AS sum_mx_m,
       cast(sum(cast(round(my) as bigint)) as bigint) AS sum_my_m
FROM m
GROUP BY 1, 2
ORDER BY 1, 2
"""


def robinson_cells() -> str:
    """SQL twin of q_robinson_cells: identical literal spline arrays
    (functions/geo.robinson_forward_sql), meter rounding before sums."""
    from ..functions.geo import robinson_forward_sql

    mx, my = robinson_forward_sql("lon", "lat")
    return f"""
WITH {geo_oracle.points_cte()},
m AS (SELECT {mx} AS mx, {my} AS my FROM pts)
SELECT cast(floor(mx / 2000000.0e0) as bigint) AS cell_x,
       cast(floor(my / 2000000.0e0) as bigint) AS cell_y,
       count(*) AS n_points,
       cast(sum(cast(round(mx) as bigint)) as bigint) AS sum_mx_m,
       cast(sum(cast(round(my) as bigint)) as bigint) AS sum_my_m
FROM m
GROUP BY 1, 2
ORDER BY 1, 2
"""


def utm_cells() -> str:
    """SQL twin of q_utm_cells: the SAME stage text from
    functions/geo.tm_forward_stages (Spark runs it via F.expr, here it
    unrolls as one CTE per stage), so both engines execute the
    identical Krüger-series operation sequence; meter rounding before
    the sums absorbs libm ulp noise."""
    from ..functions.geo import (
        UTM_FN_SQL, UTM_LON0_SQL, UTM_ZONE_SQL, tm_forward_stages,
    )

    stages, E_sql, N_sql = tm_forward_stages()
    ctes = [
        f"z AS (SELECT lon, lat, {UTM_ZONE_SQL} AS zone FROM pts)",
        f"zf AS (SELECT *, {UTM_LON0_SQL} AS lon0v, {UTM_FN_SQL} AS fnv FROM z)",
    ]
    prev = "zf"
    for i, (name, expr) in enumerate(stages):
        ctes.append(f"s{i} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = f"s{i}"
    ctes.append(f"m AS (SELECT zone, lat, {E_sql} AS mx, {N_sql} AS my FROM {prev})")
    chain = ",\n".join(ctes)
    return f"""
WITH {geo_oracle.points_cte()},
{chain}
SELECT zone,
       CASE WHEN lat < cast(0.0 as double) THEN 'S' ELSE 'N' END AS hemi,
       cast(floor(my / 1000000.0e0) as bigint) AS cell_n,
       count(*) AS n_points,
       cast(sum(cast(round(mx) as bigint)) as bigint) AS sum_mx_m,
       cast(sum(cast(round(my) as bigint)) as bigint) AS sum_my_m
FROM m
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def lcc_cells() -> str:
    """SQL twin of q_lcc_cells: the SAME expression text from
    functions/geo.lcc_forward_sql (EPSG:3034 parameters, cone
    constants from the shared kernel helper as literals); meter
    rounding before the sums absorbs libm ulp noise."""
    from ..functions.geo import lcc_forward_sql

    mx, my = lcc_forward_sql(
        "lon", "lat", 35.0, 65.0, 52.0, lon0=10.0,
        fe=4_000_000.0, fn=2_800_000.0,
    )
    return f"""
WITH {geo_oracle.points_cte()},
m AS (SELECT {mx} AS mx, {my} AS my FROM pts)
SELECT cast(floor(mx / 1000000.0e0) as bigint) AS cell_x,
       cast(floor(my / 1000000.0e0) as bigint) AS cell_y,
       count(*) AS n_points,
       cast(sum(cast(round(mx) as bigint)) as bigint) AS sum_mx_m,
       cast(sum(cast(round(my) as bigint)) as bigint) AS sum_my_m
FROM m
GROUP BY 1, 2
ORDER BY 1, 2
"""


def decontamination() -> str:
    """SQL twin of q_decontamination: same word-trigram shingling
    fragment as the ngram_jaccard oracle, same distinct-set join."""
    return """
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w)-2,1)+1),
          i -> array_to_string(list_slice(w, i, i+2), ' '))) AS s
  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
        FROM documents)
),
ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 41 = 0),
dg AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 41 != 0)
SELECT doc_id, cast(count(*) as bigint) AS n_overlap
FROM dg JOIN ev USING (g)
GROUP BY doc_id
ORDER BY doc_id
"""


def repetition_scores() -> str:
    """SQL twin of q_repetition_scores (functions/text.
    repetition_ratio_sql — same formula both engines)."""
    from ..functions.text import repetition_ratio_sql

    rep = repetition_ratio_sql("text", 3)
    return f"""
WITH t AS (SELECT lang, {rep} AS rep FROM documents)
SELECT lang,
       count(*) AS n_docs,
       cast(round(avg(rep) * 1000000e0) as bigint) AS avg_rep_e6,
       cast(round(max(rep) * 1000000e0) as bigint) AS max_rep_e6,
       cast(sum(case when rep > 0.2 then 1 else 0 end) as bigint) AS n_repetitive
FROM t
GROUP BY lang
ORDER BY lang
"""


def session_window_overlap() -> str:
    """SQL twin of q_session_window_overlap: same session intervals
    (the event_sessions lag->flag->running-sum CTE), same formula
    windows, but the join is the PLAIN quadratic inequality overlap —
    verifying the bucketed grid join's cover/dedup logic against
    first-principles semantics."""
    from .queries import (
        SESSION_GAP_S,
        WINDOW_COUNT,
        WINDOW_LEN_US,
        WINDOW_STEP_US,
        WINDOW_T0_US,
    )

    gap_us = int(SESSION_GAP_S) * 1_000_000
    return f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {gap_us}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - 1 AS session_idx
  FROM flagged
),
sess AS (
  SELECT user_id, session_idx,
         epoch_us(min(ts)) AS l_start_us,
         epoch_us(max(ts)) + 1 AS l_end_us
  FROM numbered GROUP BY 1, 2
),
wins AS (
  SELECT k AS window_id,
         {WINDOW_T0_US} + k * {WINDOW_STEP_US} AS r_start_us,
         {WINDOW_T0_US} + k * {WINDOW_STEP_US}
           + {WINDOW_LEN_US} AS r_end_us
  FROM (SELECT unnest(range({WINDOW_COUNT})) AS k)
)
SELECT w.window_id,
       count(*) AS n_sessions,
       cast(sum(least(s.l_end_us, w.r_end_us)
                - greatest(s.l_start_us, w.r_start_us)) as bigint)
         AS sum_overlap_us
FROM sess s JOIN wins w
  ON s.l_start_us < w.r_end_us AND w.r_start_us < s.l_end_us
GROUP BY 1
ORDER BY 1
"""


def event_sessions() -> str:
    """SQL twin of q_event_sessions: identical lag -> gap flag ->
    running sum -> two-level aggregate, microsecond-integer gap
    compare (epoch_us)."""
    from .queries import SESSION_GAP_S

    gap_us = int(SESSION_GAP_S) * 1_000_000
    return f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {gap_us}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - 1 AS session_idx
  FROM flagged
),
per_session AS (
  SELECT user_id, session_idx, count(*) AS n_ev,
         epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
  FROM numbered GROUP BY 1, 2
)
SELECT user_id,
       count(*) AS n_sessions,
       cast(sum(n_ev) as bigint) AS n_events,
       cast(max(n_ev) as bigint) AS max_session_events,
       cast(sum(dur_us) as bigint) AS sum_duration_us
FROM per_session
GROUP BY user_id
ORDER BY user_id
"""


def sequence_packing() -> str:
    """SQL twin of q_sequence_packing: ONE sequential global window
    computes every document's token_start; agreement with the
    engine's two-level distributed prefix sum (range offsets + per-
    range windows) proves the decomposition exact."""
    from .queries import PACK_CAPACITY

    cap = int(PACK_CAPACITY)
    return f"""
WITH t AS (
  SELECT doc_id, {token_count_sql('text')} AS n_tokens FROM documents
),
p AS (
  SELECT doc_id, n_tokens,
         cast(coalesce(sum(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) as bigint) AS token_start
  FROM t
)
SELECT cast(floor(token_start / {cap}) as bigint) AS seq_bin,
       count(*) AS n_docs,
       cast(sum(n_tokens) as bigint) AS sum_tokens,
       cast(sum(token_start % {cap}) as bigint) AS sum_offsets,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM p
GROUP BY 1
ORDER BY 1
"""


def stratified_sample() -> str:
    """SQL twin of q_stratified_sample: same md5-digit uniform (shared
    dialect-portable fragment) and the same sorted-order CASE
    threshold chain."""
    from ..operators.sampling import sample_uniform_sql, threshold_case_sql
    from .queries import SAMPLE_RATES

    u = sample_uniform_sql("doc_id")
    thr = threshold_case_sql("lang", SAMPLE_RATES)
    return f"""
SELECT lang,
       count(*) AS n_sampled,
       cast(sum(doc_id) as bigint) AS sum_doc_id,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM documents
WHERE {u} < {thr}
GROUP BY lang
ORDER BY lang
"""


def laea_cells() -> str:
    """SQL twin of q_laea_cells: the SAME expression text from
    functions/geo.laea_forward_sql (EPSG:3035 parameters); meter
    rounding before the sums absorbs libm ulp noise."""
    from ..functions.geo import laea_forward_sql

    mx, my = laea_forward_sql(
        "lon", "lat", 52.0, lon0=10.0, fe=4_321_000.0, fn=3_210_000.0
    )
    return f"""
WITH {geo_oracle.points_cte()},
m AS (SELECT {mx} AS mx, {my} AS my FROM pts)
SELECT cast(floor(mx / 1000000.0e0) as bigint) AS cell_x,
       cast(floor(my / 1000000.0e0) as bigint) AS cell_y,
       count(*) AS n_points,
       cast(sum(cast(round(mx) as bigint)) as bigint) AS sum_mx_m,
       cast(sum(cast(round(my) as bigint)) as bigint) AS sum_my_m
FROM m
GROUP BY 1, 2
ORDER BY 1, 2
"""


def ease_cells() -> str:
    """SQL twin of q_ease_cells: the SAME expression text from
    functions/geo.cea_forward_sql (EPSG:6933 parameters); meter
    rounding before the sums absorbs libm ulp noise."""
    from ..functions.geo import cea_forward_sql

    mx, my = cea_forward_sql("lon", "lat", 30.0)
    return f"""
WITH {geo_oracle.points_cte()},
m AS (SELECT {mx} AS mx, {my} AS my FROM pts)
SELECT cast(floor(mx / 1000000.0e0) as bigint) AS cell_x,
       cast(floor(my / 1000000.0e0) as bigint) AS cell_y,
       count(*) AS n_points,
       cast(sum(cast(round(mx) as bigint)) as bigint) AS sum_mx_m,
       cast(sum(cast(round(my) as bigint)) as bigint) AS sum_my_m
FROM m
GROUP BY 1, 2
ORDER BY 1, 2
"""


def zonal_stats() -> str:
    """SQL twin of q_zonal_stats: regenerate the 256x256 gradient+
    checker raster from its integer formula (same regeneration as the
    warp oracle), compute each pixel CENTER's lon/lat through the
    north-up affine, half-open containment join to the region boxes,
    per-region count + band sums."""
    from . import queries as q

    size = q.WARP_GATE_SRC
    sx, sy = q.ZONAL_SX, q.ZONAL_SY
    return f"""
WITH {geo_oracle.boxes_cte()},
px AS (
    SELECT c.x, r.y,
           (c.x * 255) // {size} AS pr,
           (r.y * 255) // {size} AS pg,
           ((c.x // 32 + r.y // 32) % 2) * 255 AS pb,
           -180.0e0 + (c.x + 0.5e0) * {sx!r} AS lon,
           85.0e0 + (r.y + 0.5e0) * {sy!r} AS lat
    FROM (SELECT unnest(range({size})) AS x) c,
         (SELECT unnest(range({size})) AS y) r
)
SELECT cast(b.region_id as bigint) AS region_id,
       count(*) AS n_pixels,
       cast(sum(pr) as bigint) AS sum_r,
       cast(sum(pg) as bigint) AS sum_g,
       cast(sum(pb) as bigint) AS sum_b
FROM px p JOIN boxes b
  ON p.lon >= b.lon_min AND p.lon < b.lon_max
 AND p.lat >= b.lat_min AND p.lat < b.lat_max
GROUP BY 1
HAVING count(*) > 0
ORDER BY 1
"""


def idw_surface() -> str:
    """SQL twin of q_idw_surface: the SAME literal-centers IDW
    expression text and the same tile_xy text."""
    from ..fixtures import CHINA22_GEOPOINTS, CHINA22_IMPOINTS
    from ..functions import tiles
    from ..functions.geo import idw_sql

    expr = idw_sql(
        "lon", "lat",
        [(p[0], p[1]) for p in CHINA22_GEOPOINTS],
        [float(p[0]) for p in CHINA22_IMPOINTS],
    )
    tx, ty = tiles.tile_xy_sql("lon", "lat", 5)
    return f"""
WITH {geo_oracle.points_cte()}
SELECT cast({tx} as bigint) AS tx,
       cast({ty} as bigint) AS ty,
       count(*) AS n_points,
       cast(sum(cast(round({expr} * 1000000e0) as bigint)) as bigint)
         AS sum_v_e6
FROM pts
GROUP BY 1, 2
ORDER BY 1, 2
"""


def gc_waypoints() -> str:
    """SQL twin of q_gc_waypoints: the same pair CTE as
    span_pair_distance, a LATERAL unnest of the fractions, and the
    VERBATIM gc_interpolate_sql / tile_xy_sql texts."""
    from ..functions import tiles
    from ..functions.geo import gc_interpolate_sql
    from ..sources import synthspec
    from .queries import WAYPOINT_FRACTIONS, WAYPOINT_ZOOM

    e = synthspec.point_exprs_sql("doc_num")
    glon, glat = gc_interpolate_sql("lon0", "lat0", "lon1", "lat1", "fv")
    tx, ty = tiles.tile_xy_sql("wlon", "wlat", WAYPOINT_ZOOM)
    fracs = ", ".join(f"cast({f!r} as double)" for f in WAYPOINT_FRACTIONS)
    return f"""
WITH ids AS (SELECT (l_orderkey * 8 + l_linenumber) AS doc_num FROM lineitem),
paired AS (
    SELECT round({e['lon']}, 4) AS lon0, round({e['lat']}, 4) AS lat0,
           {e['lon2']} AS lon1, {e['lat2']} AS lat1
    FROM ids WHERE {e['has_second']}
),
way AS (
    SELECT cast(round(f.fv * 4) as bigint) AS fq,
           {glon} AS wlon, {glat} AS wlat
    FROM paired, (SELECT unnest([{fracs}]) AS fv) f
)
SELECT fq, cast({tx} as bigint) AS tx, cast({ty} as bigint) AS ty,
       count(*) AS n_points
FROM way
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def geohash_counts() -> str:
    """SQL twin of q_geohash_counts via tiles.geohash_sql — an
    independent implementation of the same published encoding (the
    Spark side uses the Column builder, not this text)."""
    from ..functions import tiles
    from .queries import GEOHASH_PRECISION

    gh = tiles.geohash_sql("lon", "lat", GEOHASH_PRECISION)
    return f"""
WITH {geo_oracle.points_cte()}
SELECT {gh} AS gh, count(*) AS n_points
FROM pts
GROUP BY 1
ORDER BY n_points DESC, gh
LIMIT 100
"""


def grid_dbscan() -> str:
    """SQL twin of q_grid_dbscan: same tile_xy text, relational
    forward-offset edges, WITH RECURSIVE min-label closure (the
    neardup_components oracle pattern), isolated core cells kept as
    singleton clusters via the left join."""
    from ..functions import tiles
    from .queries import DBSCAN_MIN_PTS, DBSCAN_ZOOM

    from ..sources import oracle as _src_oracle
    from ..sources import synthspec

    tx, ty = tiles.tile_xy_sql("lon", "lat", DBSCAN_ZOOM)
    width = 1 << DBSCAN_ZOOM
    e = synthspec.point_exprs_sql("doc_num")
    # points_cte() nests a WITH inside the pts CTE body; under WITH
    # RECURSIVE DuckDB parses any UNION ALL CTE as anchor/recursive
    # term and the nested WITH stops binding across branches — so the
    # same derivation is spelled here with ``ids`` hoisted top-level.
    return f"""
WITH RECURSIVE ids AS (SELECT {_src_oracle.DOC_NUM_SQL} AS doc_num FROM lineitem),
pts AS (
    SELECT doc_num, 0 AS span_pos,
           round({e['lon']}, 4) AS lon, round({e['lat']}, 4) AS lat
    FROM ids
    UNION ALL
    SELECT doc_num, 1 AS span_pos,
           {e['lon2']} AS lon, {e['lat2']} AS lat
    FROM ids WHERE {e['has_second']}
),
core AS (
    SELECT cast({tx} as bigint) AS tx, cast({ty} as bigint) AS ty,
           count(*) AS n,
           cast({ty} as bigint) * {width} + cast({tx} as bigint) AS cell_id
    FROM pts GROUP BY 1, 2
    HAVING count(*) >= {DBSCAN_MIN_PTS}
),
p AS (
    SELECT a.cell_id AS id_a, b.cell_id AS id_b
    FROM core a
    JOIN (SELECT unnest([struct_pack(dx := 1, dy := 0),
                         struct_pack(dx := 1, dy := 1),
                         struct_pack(dx := 0, dy := 1),
                         struct_pack(dx := -1, dy := 1)], recursive := true)) o
      ON true
    JOIN core b ON b.tx = a.tx + o.dx AND b.ty = a.ty + o.dy
),
edges AS (
    SELECT id_a AS u, id_b AS v FROM p
    UNION
    SELECT id_b AS u, id_a AS v FROM p
),
reach AS (
    SELECT u AS id, u AS lab FROM edges
    UNION
    SELECT e.u AS id, r.lab FROM edges e JOIN reach r ON r.id = e.v
),
lab AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id)
SELECT cast(coalesce(l.comp, c.cell_id) as bigint) AS cluster_id,
       count(*) AS n_cells,
       cast(sum(c.n) as bigint) AS n_points,
       cast(min(c.tx) as bigint) AS tx_min,
       cast(max(c.tx) as bigint) AS tx_max,
       cast(min(c.ty) as bigint) AS ty_min,
       cast(max(c.ty) as bigint) AS ty_max
FROM core c LEFT JOIN lab l ON l.id = c.cell_id
GROUP BY 1
ORDER BY 1
"""


def trajectory_stats() -> str:
    """SQL twin of q_trajectory_stats: identical track fold, lag
    window, and the SAME haversine/bearing expression text
    (functions/geo.haversine_km_sql / bearing_deg_sql) — step meters
    discretize before the sum, bearing folds to its 45° octant."""
    from ..functions.geo import bearing_deg_sql, haversine_km_sql
    from .queries import N_TRACKS

    step_m = (
        f"cast(round({haversine_km_sql('plon', 'plat', 'lon', 'lat')}"
        f" * 1000.0e0) as bigint)"
    )
    sector = (
        f"least(cast(floor({bearing_deg_sql('plon', 'plat', 'lon', 'lat')}"
        f" / 45.0e0) as int), 7)"
    )
    return f"""
WITH {geo_oracle.points_cte()},
tracked AS (
  SELECT doc_num % {N_TRACKS} AS track_id, doc_num, span_pos, lon, lat
  FROM pts
),
stepped AS (
  SELECT track_id, lon, lat,
         lag(lon) OVER w AS plon, lag(lat) OVER w AS plat
  FROM tracked
  WINDOW w AS (PARTITION BY track_id ORDER BY doc_num, span_pos)
)
SELECT cast(track_id as bigint) AS track_id,
       cast({sector} as bigint) AS sector,
       count(*) AS n_steps,
       cast(sum({step_m}) as bigint) AS path_m,
       cast(max({step_m}) as bigint) AS max_step_m
FROM stepped
WHERE plon IS NOT NULL
GROUP BY 1, 2
ORDER BY 1, 2
"""


def hotspot_focal() -> str:
    """SQL twin of q_hotspot_focal: same tile_xy text, same
    spread/gather/support-join plan as SQL."""
    from ..functions import tiles

    tx, ty = tiles.tile_xy_sql("lon", "lat", 10)
    return f"""
WITH {geo_oracle.points_cte()},
cells AS (
    SELECT cast({tx} as bigint) AS tx, cast({ty} as bigint) AS ty,
           count(*) AS n
    FROM pts GROUP BY 1, 2
),
spread AS (
    SELECT c.tx + dx.d AS _tx, c.ty + dy.d AS _ty, c.n AS v
    FROM cells c,
         (SELECT unnest(range(-1, 2)) AS d) dx,
         (SELECT unnest(range(-1, 2)) AS d) dy
),
gathered AS (
    SELECT _tx, _ty, sum(v) AS focal_sum
    FROM spread GROUP BY 1, 2
)
SELECT c.tx, c.ty,
       cast(c.n as bigint) AS n,
       cast(g.focal_sum as bigint) AS focal_sum
FROM gathered g JOIN cells c ON g._tx = c.tx AND g._ty = c.ty
ORDER BY 1, 2
"""


def tile_rollup() -> str:
    """SQL twin of q_tile_rollup: the SAME two-level aggregation
    through the SAME expression texts (tiles.cell_id_sql at zoom 12,
    tiles.cell_parent_sql 12 -> 8)."""
    from ..functions import tiles

    c12 = tiles.cell_id_sql("lon", "lat", 12)
    parent = tiles.cell_parent_sql("c12", 12, 8)
    return f"""
WITH {geo_oracle.points_cte()},
child AS (
    SELECT {c12} AS c12, count(*) AS n
    FROM pts
    GROUP BY 1
)
SELECT {parent} AS cell8,
       cast(sum(n) as bigint) AS n_points,
       count(*) AS n_child_cells
FROM child
GROUP BY 1
ORDER BY 1
"""


def embedding_int8_rerank() -> str:
    """Twin of q_embedding_int8_rerank: same symmetric int8 quantizer,
    same ((dot8 * sa) * sb) * 1e6 association, same two-stage ranking
    — spelled with DuckDB correlated-unnest sums (the knn_l2 idiom)."""
    from .queries import INT8_CAND

    return f"""
WITH b AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> cast(round(cast(x as double) * 1000e0) as bigint)) AS q1k,
           list_transform(embedding, x -> cast(x as double)) AS xd
    FROM embeddings
),
s AS (
    SELECT vec_id, q1k, xd,
           (SELECT max(abs(u)) FROM (SELECT unnest(xd) AS u)) AS amax
    FROM b
),
q8 AS (
    SELECT vec_id, q1k, amax / 127e0 AS scale,
           list_transform(xd, x -> cast(round(x * 127e0 /
               (CASE WHEN amax = 0 THEN 1e0 ELSE amax END)) as bigint)) AS v8
    FROM s
),
pairs AS (
    SELECT a.vec_id AS query_id, b.vec_id AS vec_id, a.q1k AS qa, b.q1k AS qb,
           cast((SELECT sum(ua * ub)
                 FROM (SELECT unnest(a.v8) AS ua, unnest(b.v8) AS ub))
                as bigint) AS dot8,
           a.scale AS sa, b.scale AS sb
    FROM q8 a, q8 b
    WHERE a.vec_id < 10 AND b.vec_id >= 10
),
appr AS (
    SELECT query_id, vec_id, qa, qb,
           cast(round(((cast(dot8 as double) * sa) * sb) * 1e6) as bigint)
               AS approx_e6
    FROM pairs
),
cand AS (
    SELECT query_id, vec_id, qa, qb, approx_e6,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_e6 DESC, vec_id ASC) AS crnk
    FROM appr
),
exact AS (
    SELECT query_id, vec_id, approx_e6,
           cast((SELECT sum((ua - ub) * (ua - ub))
                 FROM (SELECT unnest(qa) AS ua, unnest(qb) AS ub))
                as bigint) AS d2
    FROM cand WHERE crnk <= {INT8_CAND}
),
ranked AS (
    SELECT query_id, vec_id, approx_e6, d2,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY d2 ASC, vec_id ASC) AS rnk
    FROM exact
)
SELECT query_id, rnk, vec_id AS neighbor_id, d2, approx_e6
FROM ranked WHERE rnk <= 5
ORDER BY query_id, rnk
"""


def doc_chunks() -> str:
    """Twin of q_doc_chunks: generate_series chunk starts +
    list_slice windows (1-based inclusive end = st+W, matching
    Spark's slice(arr, st+1, W))."""
    from .queries import CHUNK_S, CHUNK_W

    return f"""
WITH t AS (
    SELECT lang,
           list_filter(string_split_regex(text, ' +'), x -> x <> '') AS toks
    FROM documents
),
s AS (
    SELECT lang, toks,
           unnest(generate_series(0, greatest(len(toks) - 1, 0), {CHUNK_S}))
               AS st
    FROM t
),
ch AS (
    SELECT lang, list_slice(toks, st + 1, st + {CHUNK_W}) AS arr
    FROM s
),
x AS (
    SELECT lang, len(arr) AS n_toks, array_to_string(arr, ' ') AS chunk
    FROM ch
)
SELECT lang,
       count(*) AS n_chunks,
       cast(sum(n_toks) as bigint) AS sum_chunk_tokens,
       cast(sum(length(chunk)) as bigint) AS sum_chunk_chars,
       cast(count(distinct md5(chunk)) as bigint) AS n_distinct_chunks
FROM x
GROUP BY lang
ORDER BY lang
"""


def inverted_index() -> str:
    """Twin of q_inverted_index: same (term, doc) tf aggregate; the
    posting head via max(row(tf, -doc_id)) so tie-breaks match."""
    return """
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(text, ' +')) AS w
    FROM documents
),
tk AS (SELECT doc_id, w FROM toks WHERE w <> ''),
per_doc AS (
    SELECT w, doc_id, count(*) AS tf FROM tk GROUP BY 1, 2
),
terms AS (
    SELECT w,
           count(*) AS df,
           cast(sum(tf) as bigint) AS tf_total,
           max(struct_pack(tf := tf, nd := -doc_id)) AS top
    FROM per_doc
    GROUP BY 1
)
SELECT w, df, tf_total,
       cast(top.tf as bigint) AS top_tf,
       cast(-(top.nd) as bigint) AS top_doc,
       cast(round((ln((SELECT count(*) FROM documents)) - ln(df)) * 1e6)
            as bigint) AS idf_e6
FROM terms
ORDER BY df DESC, w
"""


def unigram_nll() -> str:
    """Twin of q_unigram_nll: same two-pass unigram LM in plain SQL
    (counts CTE, scalar total, per-doc e6-rounded NLL, integer
    per-language sums)."""
    from .queries import NLL_FLAG_E6

    return f"""
WITH toks AS (
    SELECT doc_id, lang, unnest(string_split_regex(text, ' +')) AS w
    FROM documents
),
tk AS (SELECT doc_id, lang, w FROM toks WHERE w <> ''),
c AS (SELECT w, count(*) AS c FROM tk GROUP BY 1),
tot AS (SELECT cast(sum(c) as double) AS t FROM c),
per_doc AS (
    SELECT lang,
           cast(round((ln((SELECT t FROM tot)) - avg(ln(cast(c.c as double))))
                      * 1e6) as bigint) AS nll_e6
    FROM tk JOIN c USING (w)
    GROUP BY doc_id, lang
)
SELECT lang,
       count(*) AS n_docs,
       cast(sum(nll_e6) as bigint) AS sum_nll_e6,
       cast(sum(case when nll_e6 > {NLL_FLAG_E6} then 1 else 0 end) as bigint)
           AS n_flagged
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


def pii_redaction() -> str:
    """Twin of q_pii_redaction: identical shared injection text, then
    RE2-side detection/redaction (regexp_extract_all + replace-all
    regexp_replace in the same rule order)."""
    from ..functions.text import pii_counts_sql, pii_inject_sql, pii_redact_sql

    cnts = pii_counts_sql("t2")
    red = pii_redact_sql("t2")
    return f"""
WITH injected AS (
    SELECT lang, {pii_inject_sql('doc_id', 'text')} AS t2
    FROM documents
),
per_doc AS (
    SELECT lang,
           {cnts['n_emails']} AS n_emails,
           {cnts['n_phones']} AS n_phones,
           {cnts['n_ips']} AS n_ips,
           length({red}) AS len_after,
           md5({red}) AS fp
    FROM injected
)
SELECT lang,
       count(*) AS n_docs,
       cast(sum(n_emails) as bigint) AS n_emails,
       cast(sum(n_phones) as bigint) AS n_phones,
       cast(sum(n_ips) as bigint) AS n_ips,
       cast(sum(len_after) as bigint) AS sum_len_after,
       cast(count(distinct fp) as bigint) AS n_distinct_redacted
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


def raster_histogram() -> str:
    """Twin of q_raster_histogram: regenerate the 256x256 raster from
    its integer formula (same regeneration as zonal_stats/warp) and
    count (band, value) pairs directly."""
    from . import queries as q

    size = q.WARP_GATE_SRC
    return f"""
WITH px AS (
    SELECT (c.x * 255) // {size} AS pr,
           (r.y * 255) // {size} AS pg,
           ((c.x // 32 + r.y // 32) % 2) * 255 AS pb,
           255 AS pa
    FROM (SELECT unnest(range({size})) AS x) c,
         (SELECT unnest(range({size})) AS y) r
),
b AS (
    SELECT 'r' AS band, cast(pr as int) AS value FROM px
    UNION ALL SELECT 'g', cast(pg as int) FROM px
    UNION ALL SELECT 'b', cast(pb as int) FROM px
    UNION ALL SELECT 'a', cast(pa as int) FROM px
)
SELECT band, value, count(*) AS n_pixels
FROM b
GROUP BY 1, 2
ORDER BY band, value
"""


def quality_by_lang() -> str:
    return f"""
SELECT lang,
       count(*) AS n_docs,
       cast(sum({token_count_sql('text')}) as bigint) AS sum_tokens,
       cast(round(avg({quality_score_sql('text')}) * 1000000e0) as bigint) AS avg_quality_e6,
       cast(round(avg({punct_ratio_sql('text')}) * 1000000e0) as bigint) AS avg_punct_e6
FROM documents
GROUP BY lang
ORDER BY lang
"""


def length_quantiles() -> str:
    """SQL twin of q_length_quantiles: DuckDB quantile_cont — the same
    rank-p*(n-1) linear interpolation as Spark's exact percentile."""
    return """
WITH l AS (SELECT lang, length(text) AS len FROM documents)
SELECT lang,
       count(*) AS n_docs,
       cast(round(quantile_cont(len, 0.25) * 1000000e0) as bigint) AS p25_e6,
       cast(round(quantile_cont(len, 0.50) * 1000000e0) as bigint) AS p50_e6,
       cast(round(quantile_cont(len, 0.75) * 1000000e0) as bigint) AS p75_e6,
       cast(round(quantile_cont(len, 0.95) * 1000000e0) as bigint) AS p95_e6
FROM l
GROUP BY lang
ORDER BY lang
"""


def token_stats() -> str:
    from ..functions.text import bpe_token_count_sql, rolling_fingerprint_sql

    bpe = bpe_token_count_sql("text")
    fp = rolling_fingerprint_sql("text")
    return f"""
WITH d AS (SELECT lang, {bpe} AS bpe, {fp} AS fp FROM documents)
SELECT lang,
       count(*) AS n_docs,
       cast(sum(bpe) as bigint) AS sum_bpe_tokens,
       count(distinct fp) AS n_fingerprints,
       max(fp) AS max_fp
FROM d
GROUP BY lang
ORDER BY lang
"""


def dedup_exact() -> str:
    return f"""
WITH groups AS (
    SELECT {fingerprint_sql('text')} AS fp, count(*) AS cnt
    FROM documents GROUP BY 1
)
SELECT count(*) AS n_groups,
       cast(sum(cnt) as bigint) AS n_docs,
       cast(sum(cnt - 1) as bigint) AS n_redundant,
       cast(sum(case when cnt > 1 then 1 else 0 end) as bigint) AS n_dup_groups
FROM groups
"""


def embedding_knn_l2() -> str:
    return """
WITH q AS (
    SELECT vec_id, list_transform(embedding,
               x -> cast(round(cast(x as double) * 1000e0) as bigint)) AS qv
    FROM embeddings
),
pairs AS (
    SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
           cast((SELECT sum((ua - ub) * (ua - ub))
              FROM (SELECT unnest(a.qv) AS ua, unnest(b.qv) AS ub)) as bigint) AS d2
    FROM q a, q b
    WHERE a.vec_id < 10 AND b.vec_id >= 10
),
ranked AS (
    SELECT query_id, vec_id, d2,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY d2 ASC, vec_id ASC) AS rnk
    FROM pairs
)
SELECT query_id, rnk, vec_id AS neighbor_id, d2
FROM ranked WHERE rnk <= 5
ORDER BY query_id, rnk
"""


def _dlit(v: float) -> str:
    """Render a python float as a DuckDB DOUBLE literal (repr round-
    trips; force an exponent so DuckDB doesn't type it DECIMAL)."""
    s = repr(float(v))
    return s if ("e" in s or "E" in s) else s + "e0"


def minhash_pairs() -> str:
    """Brute-force exact-Jaccard oracle for the MinHash-LSH pairs
    query (operators/dedup.py:minhash_lsh_pairs, threshold 0.5).

    The Spark query emits candidate pairs that (a) collide in >=1 of 8
    LSH bands and (b) verify at exact Jaccard >= 0.5.  This oracle
    computes ALL pairs with exact Jaccard >= 0.5 (same 8-char distinct
    shingles).  The two agree iff LSH recall is 100% on the gate data
    — which holds deterministically here: the planted near-dups have
    J >> 0.5 (single-band hit prob 1-(1-J^4)^8 ~ 1), and equality was
    verified exhaustively at sf0.001 (28 pairs) and sf0.01 (25 pairs).
    """
    return """
WITH sh AS (
  SELECT cast(doc_id as varchar) AS id,
         list_distinct(list_transform(range(1, greatest(length(text)-7,1)+1),
                                      i -> substring(text, i, 8))) AS s
  FROM documents
)
SELECT a.id AS id_a, b.id AS id_b,
       cast(round(1000000.0 * len(list_intersect(a.s, b.s))
                  / len(list_distinct(list_concat(a.s, b.s)))) as bigint) AS jaccard_e6
FROM sh a JOIN sh b ON a.id < b.id
WHERE cast(len(list_intersect(a.s, b.s)) as double)
      / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
ORDER BY 1, 2
"""


def radius_join() -> str:
    """Brute-force twin of the tile-cover radius join: every
    (point, center) pair distance-filtered directly — no cells, so
    agreement certifies the cover's recall."""
    from ..sources.oracle import centers_cte, points_cte
    from .queries import RADIUS_JOIN_KM

    hav = haversine_km_sql("p.lon", "p.lat", "c.c_lon", "c.c_lat")
    return f"""
WITH {points_cte()}, {centers_cte()}
SELECT c.center_id, cast(count(*) as bigint) AS n_within
FROM pts p CROSS JOIN centers c
WHERE {hav} <= {RADIUS_JOIN_KM!r}
GROUP BY 1 ORDER BY 1
"""


def events_asof_join() -> str:
    """DuckDB-native ASOF LEFT JOIN twin of the union+window as-of
    implementation (operators/temporal.py)."""
    return """
WITH c AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
v AS (
  SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'
)
SELECT c.event_id, c.user_id,
       coalesce(
         cast(floor(epoch(c.ts)) as bigint) - cast(floor(epoch(v.view_ts)) as bigint),
         -1) AS gap_s
FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.view_ts
ORDER BY c.event_id
"""


def curation_funnel() -> str:
    """SQL replay of the curation funnel: row_number exact dedup,
    recursive-CTE near-dup closure over the survivors' brute-force
    Jaccard pairs, quality floor, one aggregate row."""
    from .queries import CURATION_QUALITY_MIN

    q = quality_score_sql("text")
    t = _dlit(CURATION_QUALITY_MIN)
    return f"""
WITH RECURSIVE d AS (
  SELECT cast(doc_id as varchar) AS id, text FROM documents
),
r AS (
  SELECT id, text,
         row_number() OVER (PARTITION BY md5(lower(trim(text)))
                            ORDER BY id) AS rn
  FROM d
),
sh AS (
  SELECT id,
         list_distinct(list_transform(range(1, greatest(length(text)-7,1)+1),
                                      i -> substring(text, i, 8))) AS s
  FROM r WHERE rn = 1
),
p AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b ON a.id < b.id
  WHERE cast(len(list_intersect(a.s, b.s)) as double)
        / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM p
  UNION
  SELECT id_b AS u, id_a AS v FROM p
),
reach AS (
  SELECT u AS id, u AS lab FROM edges
  UNION
  SELECT e.u AS id, rc.lab FROM edges e JOIN reach rc ON rc.id = e.v
),
lab AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
nd AS (SELECT id FROM lab WHERE id != comp),
staged AS (
  SELECT r.rn, (nd.id IS NOT NULL) AS is_nd, {q} AS q
  FROM r LEFT JOIN nd ON r.id = nd.id
)
SELECT cast(count(*) as bigint) AS n_docs,
       cast(sum(case when rn > 1 then 1 else 0 end) as bigint) AS n_exact_dup,
       cast(sum(case when rn = 1 and is_nd then 1 else 0 end) as bigint) AS n_near_dup,
       cast(sum(case when rn = 1 and not is_nd and q < {t} then 1 else 0 end) as bigint) AS n_low_quality,
       cast(sum(case when rn = 1 and not is_nd and q >= {t} then 1 else 0 end) as bigint) AS n_kept,
       cast(round(avg(case when rn = 1 and not is_nd and q >= {t} then q end) * 100.0) as bigint) AS avg_q_kept_e2
FROM staged
"""


def neardup_components() -> str:
    """Recursive-CTE twin of the clustering query: brute-force
    exact-Jaccard pairs (same recall-verified oracle basis as
    minhash_pairs), symmetric edges, min-label closure via WITH
    RECURSIVE (UNION dedup terminates the fixpoint), then per-
    component summaries."""
    return """
WITH RECURSIVE sh AS (
  SELECT cast(doc_id as varchar) AS id,
         list_distinct(list_transform(range(1, greatest(length(text)-7,1)+1),
                                      i -> substring(text, i, 8))) AS s
  FROM documents
),
p AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b ON a.id < b.id
  WHERE cast(len(list_intersect(a.s, b.s)) as double)
        / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM p
  UNION
  SELECT id_b AS u, id_a AS v FROM p
),
reach AS (
  SELECT u AS id, u AS lab FROM edges
  UNION
  SELECT e.u AS id, r.lab FROM edges e JOIN reach r ON r.id = e.v
),
lab AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id)
SELECT comp, cast(count(*) as bigint) AS n_members,
       string_agg(id, ',' ORDER BY id) AS members
FROM lab GROUP BY comp ORDER BY comp
"""


def streaming_window_counts(window_s: int = 21600) -> str:
    """Batch twin of the AvailableNow streaming aggregation: Spark's
    window(ts, '6 hours') starts align to the unix epoch, i.e.
    floor-division of epoch seconds."""
    return f"""
SELECT cast(floor(epoch(ts)/{window_s}.0) as bigint)*{window_s} AS win_start_s,
       event_type,
       cast(count(*) as bigint) AS n_events,
       cast(round(sum(value)*100.0) as bigint) AS value_e2
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def media_features() -> str:
    """Arithmetic twin of the multimodal decode→feature query: the
    Spark side builds real TIFF/WAV containers from integer formulas
    on doc_num, decodes them with the true codecs and pools features
    (operators/multimodal.py); this oracle recomputes the decoded
    values directly from the same formulas — f0 = mean of the first
    pool group (24 pixels / 8 samples), float32-cast exactly where
    the kernel casts."""
    from ..operators.multimodal import (
        AUD_MULT,
        AUD_STEP,
        IMG_PX_MULT,
        IMG_PX_STEP,
    )
    from ..sources.synth import DOC_NUM_SQL

    img_sum = " + ".join(
        f"((doc_num*{IMG_PX_MULT} + {IMG_PX_STEP * m}) % 256)" for m in range(24)
    )
    aud_terms = []
    for m in range(8):
        u = f"((doc_num*{AUD_MULT} + {AUD_STEP * m}) % 65536)"
        aud_terms.append(
            f"((CASE WHEN {u} >= 32768 THEN {u} - 65536 ELSE {u} END) / 32768.0)"
        )
    aud_sum = " + ".join(aud_terms)
    return f"""
WITH ids AS (SELECT {DOC_NUM_SQL} AS doc_num FROM lineitem),
sel AS (SELECT doc_num FROM ids WHERE doc_num % 97 = 0 AND doc_num % 3 < 2),
f AS (
  SELECT CASE WHEN doc_num % 3 = 0 THEN 'image' ELSE 'audio' END AS kind,
         CASE WHEN doc_num % 3 = 0
              THEN cast(({img_sum}) / 24.0 as real)
              ELSE cast(({aud_sum}) / 8.0 as real)
         END AS f0
  FROM sel
)
SELECT kind,
       cast(count(*) as bigint) AS n_media,
       cast(count(*) as bigint) AS n_ok,
       cast(round(avg(f0) * 100.0) as bigint) AS avg_f0_e2
FROM f GROUP BY kind ORDER BY kind
"""


@functools.cache
def auto_choose_model() -> str:
    """Literal-errs + SQL-argmin twin of q_auto_choose_model (round 5,
    per the round-4 review): the per-candidate refinement loops
    (auto_drop_models with leave-one-out) are re-run HERE, driver-side
    at oracle-build time, and embedded as literal rows; the SQL then
    performs only the SELECTION — stable min-by-err with the
    candidate-order tie-break (reference accuracy.py:226-228).

    What this verifies non-circularly: (a) the distributed
    groupBy(candidate).applyInPandas evaluation produces exactly the
    same (n_points, err) per candidate as the single-process kernel —
    any partitioning, ordering, or serialization bug in the Spark path
    diverges; (b) the relational argmin/tie-break/limit matches plain
    SQL.  The fit VALUES themselves are anchored separately by pytest
    goldens against the reference (auto_drop 19pts/333.882194848,
    README auto-choose poly-2/18/278.617602953)."""
    from ..fixtures import CHINA22_GEOPOINTS, CHINA22_IMPOINTS
    from ..kernels import TIN, Polynomial
    from ..kernels.accuracy import auto_drop_models

    candidates = [
        ("poly1", lambda: Polynomial(order=1)),
        ("poly2", lambda: Polynomial(order=2)),
        ("poly3", lambda: Polynomial(order=3)),
        ("tin", TIN),
    ]
    inpts = [(float(x), float(y)) for x, y in CHINA22_IMPOINTS]
    outpts = [(float(x), float(y)) for x, y in CHINA22_GEOPOINTS]
    rows = []
    for name, make in candidates:
        try:
            _t, kept_in, _ko, _p, _r, err = auto_drop_models(
                make(), list(inpts), list(outpts), leave_one_out=True,
                distance="geodesic", metric="rmse",
            )
        except Exception:
            continue
        rows.append(f"('{name}', {len(kept_in)}, {round(err * 1e6)})")
    values = ", ".join(rows)
    return f"""
WITH errs(candidate, n_points, err_e6) AS (VALUES {values})
SELECT candidate,
       cast(n_points as int) AS n_points,
       cast(err_e6 as bigint) AS err_e6
FROM errs
ORDER BY err_e6 ASC,
         CASE candidate WHEN 'poly1' THEN 0 WHEN 'poly2' THEN 1
                        WHEN 'poly3' THEN 2 ELSE 3 END ASC
LIMIT 1
"""


def media_frames() -> str:
    """Arithmetic twin of the video frame-sampling query: the Spark
    side builds real uncompressed-DIB AVI containers (8x6 RGB24,
    n_frames = doc_num%6+2) from the formula byte(m, f) =
    (doc_num*29 + f*53 + m*11) % 256 over bottom-up BGR DIB positions
    m, and decodes them with the true RIFF walker (kernels/avi.py)
    into top-down RGB.  This oracle recomputes both fingerprints
    relationally: px_sum is reorder-invariant; pos_dot weights each
    byte by its DECODED position p(m) = ((5 - m//24)*8 + (m%24)//3)*3
    + (2 - m%3), which pins the row flip and the BGR->RGB swap."""
    from ..operators.multimodal import (
        MEDIA_VID_FRAME_BYTES,
        MEDIA_VID_H,
        MEDIA_VID_W,
        VID_FSTEP,
        VID_MULT,
        VID_STEP,
    )
    from ..sources.synth import DOC_NUM_SQL

    row_bytes = MEDIA_VID_W * 3
    top = MEDIA_VID_H - 1
    byte = f"((doc_num*{VID_MULT} + f.f*{VID_FSTEP} + m.m*{VID_STEP}) % 256)"
    pos = (
        f"((({top} - m.m // {row_bytes}) * {MEDIA_VID_W}"
        f" + (m.m % {row_bytes}) // 3) * 3 + (2 - m.m % 3))"
    )
    return f"""
WITH ids AS (
  -- rid keeps duplicate doc_nums (repeated source rows) as separate
  -- output rows, matching the Spark side's per-row emission
  SELECT {DOC_NUM_SQL} AS doc_num, row_number() OVER () AS rid
  FROM lineitem
),
sel AS (
  SELECT doc_num, rid, doc_num % 6 + 2 AS n_frames FROM ids
  WHERE doc_num % 97 = 0 AND doc_num % 3 = 2
)
SELECT concat('doc-', lpad(cast(sel.doc_num as varchar), 12, '0')) AS media_id,
       cast(f.f as int) AS frame_idx,
       cast(sum({byte}) as bigint) AS px_sum,
       cast(sum({pos} * {byte}) as bigint) AS pos_dot
FROM sel,
     range(0, 8) AS f(f),
     range(0, {MEDIA_VID_FRAME_BYTES}) AS m(m)
WHERE f.f % 4 = 0 AND f.f < sel.n_frames
GROUP BY sel.doc_num, sel.rid, f.f
ORDER BY 1, 2
"""


def warp_affine_checksums() -> str:
    """Relational twin of the distributed affine warp gate
    (plans/queries.q_warp_affine_checksums): regenerates the source
    raster as a (col,row,r,g,b,a) table from the shared pixel
    formulas, backward-maps every output pixel with the SAME
    sequential two-stage inverse-affine arithmetic the kernel runs
    (literal matrices from warp_gate_geometry — one combined matrix
    would change fp association), rounds half-to-even (DuckDB
    round_even == np.around), LEFT-joins to the source pixels
    (out-of-bounds → the kernel's zero fill), and aggregates per
    output tile."""
    from .queries import (
        WARP_GATE_OUT_TILE,
        WARP_GATE_SRC,
        warp_gate_geometry,
    )

    g = warp_gate_geometry()
    (xscale, _, xoff, _, yscale, yoff) = g["affine"]
    w, h = g["size"]
    B, C = g["inv_mats"]
    t = WARP_GATE_OUT_TILE
    n = WARP_GATE_SRC
    d = _dlit
    return f"""
WITH src AS (
  SELECT cx.range AS sc, ry.range AS sr,
         cast((cx.range*255)//{n} as bigint) AS pr,
         cast((ry.range*255)//{n} as bigint) AS pg,
         cast(((cx.range//32 + ry.range//32)%2)*255 as bigint) AS pb,
         cast(255 as bigint) AS pa
  FROM range({n}) cx, range({n}) ry
),
og AS (
  SELECT cx.range AS c, ry.range AS r FROM range({w}) cx, range({h}) ry
),
bp AS (
  SELECT c, r,
         ({d(xoff)} + c * {d(xscale)}) AS xs,
         ({d(yoff)} + r * {d(yscale)}) AS ys
  FROM og
),
s1 AS (
  SELECT c, r,
         ({d(B[0][0])}*xs + {d(B[0][1])}*ys + {d(B[0][2])}) AS x1,
         ({d(B[1][0])}*xs + {d(B[1][1])}*ys + {d(B[1][2])}) AS y1
  FROM bp
),
s2 AS (
  SELECT c, r,
         cast(round_even({d(C[0][0])}*x1 + {d(C[0][1])}*y1 + {d(C[0][2])}, 0) as int) AS ci,
         cast(round_even({d(C[1][0])}*x1 + {d(C[1][1])}*y1 + {d(C[1][2])}, 0) as int) AS ri
  FROM s1
),
v AS (
  SELECT s2.c, s2.r,
         coalesce(src.pr, 0) AS vr, coalesce(src.pg, 0) AS vg,
         coalesce(src.pb, 0) AS vb, coalesce(src.pa, 0) AS va
  FROM s2 LEFT JOIN src ON src.sc = s2.ci AND src.sr = s2.ri
),
tp AS (
  SELECT cast(c//{t} as int) AS tile_x, cast(r//{t} as int) AS tile_y,
         (r % {t}) * least({t}, {w} - (c//{t})*{t}) + (c % {t}) + 1 AS p,
         vr, vg, vb, va
  FROM v
)
SELECT tile_x, tile_y,
       cast(count(*) as bigint) AS n_px,
       cast(sum(vr) as bigint) AS sum_r,
       cast(sum(vg) as bigint) AS sum_g,
       cast(sum(vb) as bigint) AS sum_b,
       cast(sum(va) as bigint) AS sum_a,
       cast(sum(p * (vr + vg*256 + vb*65536 + va*16777216)) as bigint) AS wsum
FROM tp
GROUP BY tile_x, tile_y
ORDER BY tile_x, tile_y
"""


def ngram_jaccard_pairs(threshold: float = 0.5) -> str:
    """Brute-force word-trigram Jaccard oracle (same recall-validity
    argument as minhash_pairs: measured on the gate corpus, every
    true pair has J >= 0.889 and the next candidate sits below 0.15,
    so 8-band/4-row LSH recall is deterministically 100%)."""
    return f"""
WITH sh AS (
  SELECT id, list_distinct(list_transform(range(1, greatest(len(w)-2,1)+1),
          i -> array_to_string(list_slice(w, i, i+2), ' '))) AS s
  FROM (SELECT cast(doc_id as varchar) AS id,
               string_split_regex(text, '\\s+') AS w
        FROM documents)
)
SELECT a.id AS id_a, b.id AS id_b,
       cast(round(1000000.0 * len(list_intersect(a.s, b.s))
                  / len(list_distinct(list_concat(a.s, b.s)))) as bigint) AS jaccard_e6
FROM sh a JOIN sh b ON a.id < b.id
WHERE cast(len(list_intersect(a.s, b.s)) as double)
      / len(list_distinct(list_concat(a.s, b.s))) >= {threshold!r}
ORDER BY 1, 2
"""


def simhash_buckets() -> str:
    """Exact SQL twin of the md5-bit SimHash query (operators/dedup.
    simhash_md5_buckets): identical shingling (shared with the minhash
    oracle), md5 per shingle, and the SAME portable bit/vote/
    fingerprint fragments (dedup.simhash_md5_exprs — one source of
    truth for both engines)."""
    from ..operators.dedup import simhash_md5_exprs

    digits, sums, hex_expr, bucket_expr = simhash_md5_exprs()
    return f"""
WITH sh AS (
  SELECT cast(doc_id as varchar) AS id,
         unnest(list_distinct(list_transform(range(1, greatest(length(text)-7,1)+1),
                                             i -> substring(text, i, 8)))) AS s
  FROM documents
),
hh AS (SELECT id, md5(s) AS h FROM sh),
dd AS (SELECT id, {', '.join(digits)} FROM hh),
v AS (
  SELECT id, cast(count(*) as bigint) AS n, {', '.join(sums)}
  FROM dd GROUP BY id
)
SELECT id, {hex_expr} AS simhash_hex, {bucket_expr} AS bucket
FROM v ORDER BY id
"""


def embedding_ann_lsh(
    k: int = 5, n_planes: int = 4, n_tables: int = 4, seed: int = 7,
    dim: int = 64,
) -> str:
    """Exact SQL twin of the multi-table sign-LSH ANN query
    (operators/similarity.py:lsh_topk): the hyperplanes are
    deterministic (seeded rng) so they are embedded as literal double
    arrays; bucket = sign-bit int, candidates = same-bucket join,
    re-rank = exact cosine.  fp summation order differs at ~1e-16 —
    absorbed by the e4 rounding."""
    from ..operators.similarity import hyperplanes

    bucket_selects = []
    for t in range(n_tables):
        planes = hyperplanes(dim, n_planes, seed + 1000 * t)
        bits = []
        for i, p in enumerate(planes):
            arr = "[" + ", ".join(_dlit(v) for v in p) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product(unit, {arr}) >= 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        bucket_selects.append(
            f"SELECT vec_id, ({' + '.join(bits)}) * {n_tables} + {t} AS bucket FROM u"
        )
    buckets = "\n    UNION ALL\n    ".join(bucket_selects)
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS v
  FROM embeddings
),
u AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS unit
  FROM v
),
b AS (
    {buckets}
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM b q JOIN b c ON q.bucket = c.bucket
  WHERE q.vec_id < 10 AND c.vec_id >= 10
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(qu.unit, cu.unit) AS cos
  FROM cand
  JOIN u qu ON qu.vec_id = cand.query_id
  JOIN u cu ON cu.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rnk
  FROM scored
)
SELECT query_id, rnk, neighbor_id,
       cast(round(cos * 10000e0) as bigint) AS cos_e4
FROM ranked WHERE rnk <= {k}
ORDER BY query_id, rnk
"""


def embedding_ivf(
    k: int = 5, n_cells: int = 16, n_probe: int = 2, seed: int = 11,
    dim: int = 64,
) -> str:
    """Exact SQL twin of the IVF query: same literal centroids, same
    nearest-cell assignment (dot desc, cell asc tie-break), same
    n_probe probing and cosine re-rank."""
    from .queries import trained_ivf_centroids

    cents = trained_ivf_centroids(n_cells=n_cells, seed=seed)
    cent_rows = ", ".join(
        f"({i}, [{', '.join(_dlit(v) for v in c)}])"
        for i, c in enumerate(cents)
    )
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS v
  FROM embeddings
),
u AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS unit
  FROM v
),
cents(cell, cv) AS (VALUES {cent_rows}),
ranked_cells AS (
  SELECT u.vec_id, cents.cell,
         row_number() OVER (PARTITION BY u.vec_id
                            ORDER BY list_dot_product(u.unit, cents.cv) DESC,
                                     cents.cell ASC) AS crank
  FROM u, cents
),
corpus AS (
  SELECT rc.vec_id AS nb_id, rc.cell
  FROM ranked_cells rc WHERE rc.crank = 1 AND rc.vec_id >= 10
),
probes AS (
  SELECT rc.vec_id AS query_id, rc.cell
  FROM ranked_cells rc WHERE rc.crank <= {n_probe} AND rc.vec_id < 10
),
cand AS (
  SELECT p.query_id, c.nb_id,
         list_dot_product(qu.unit, cu.unit) AS cos
  FROM probes p
  JOIN corpus c ON p.cell = c.cell
  JOIN u qu ON qu.vec_id = p.query_id
  JOIN u cu ON cu.vec_id = c.nb_id
),
ranked AS (
  SELECT query_id, nb_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, nb_id ASC) AS rnk
  FROM cand
)
SELECT query_id, rnk, nb_id AS neighbor_id,
       cast(round(cos * 10000e0) as bigint) AS cos_e4
FROM ranked WHERE rnk <= {k}
ORDER BY query_id, rnk
"""


def embedding_neardup_pairs(threshold: float = 0.40) -> str:
    """Brute-force exact-cosine oracle for the LSH near-dup query —
    valid because LSH recall is verified 100% on the gate data (see
    q_embedding_neardup_pairs docstring)."""
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS v
  FROM embeddings
),
u AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS unit
  FROM v
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       cast(round(list_dot_product(a.unit, b.unit) * 1000000e0) as bigint) AS cos_e6
FROM u a JOIN u b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.unit, b.unit) >= {threshold!r}
ORDER BY 1, 2
"""


def poly2_transform() -> str:
    from ..functions.geo import polynomial_predict_sql
    from .queries import POLY2_A

    px, py = polynomial_predict_sql(POLY2_A, 2, "lon", "lat")
    return f"""
WITH {geo_oracle.points_cte()},
t AS (SELECT {px} AS px, {py} AS py FROM pts)
SELECT count(*) AS n_points,
       cast(round(sum(px) * 10000e0) as bigint) AS sum_px_e4,
       cast(round(sum(py) * 10000e0) as bigint) AS sum_py_e4,
       cast(round(min(px) * 1000000e0) as bigint) AS min_px_e6,
       cast(round(max(py) * 1000000e0) as bigint) AS max_py_e6
FROM t
"""


def lang_id_counts() -> str:
    from ..functions.text import lang_id_sql

    return f"""
SELECT lang, {lang_id_sql('text')} AS pred_lang, count(*) AS n_docs
FROM documents
GROUP BY 1, 2
ORDER BY 1, 2
"""


def revenue_by_nation() -> str:
    return """
SELECT n.n_name AS n_name,
       count(*) AS n_orders,
       cast(round(sum(o.o_totalprice) * 100e0) as bigint) AS revenue_e2,
       count(distinct c.c_custkey) AS n_customers
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1
ORDER BY 1
"""


def pricing_summary() -> str:
    return """
SELECT l_returnflag, l_linestatus,
       cast(round(sum(l_quantity) * 100e0) as bigint) AS sum_qty_e2,
       cast(round(sum(l_extendedprice) * 100e0) as bigint) AS sum_price_e2,
       cast(round(sum(l_extendedprice * (1 - l_discount)) * 100e0) as bigint) AS sum_disc_price_e2,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def events_by_type() -> str:
    return """
SELECT event_type,
       count(*) AS n_events,
       cast(round(sum(value) * 10000e0) as bigint) AS sum_value_e4,
       count(distinct user_id) AS n_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def tin_transform() -> str:
    """TIN.predict oracle: the driver-fit triangles (integer china22
    pixel vertices + corner pseudo-GCPs) and their per-triangle order-1
    coefficient rows embedded as literals; membership by the same
    boundary-inclusive sign test; last-triangle-wins via max(tri_idx);
    NaN-outside-hull as the left-anti null-bucket row.  Integer lattice
    inputs keep the sign test exact across the kernel's float32 and
    this double SQL (see q_tin_transform docstring)."""
    from .queries import (
        TIN_SX,
        TIN_SY,
        TIN_XLO,
        TIN_YLO,
        tin_gate_model,
    )

    _, tris = tin_gate_model()

    def dlit(x: float) -> str:
        # full-precision double literal; repr already carries an
        # exponent for tiny coefficients, so only suffix e0 when not
        r = repr(float(x))
        return r if "e" in r else r + "e0"

    vals = ", ".join(
        "({}, {})".format(i, ", ".join(dlit(x) for x in (*v, *a, *b)))
        for i, v, a, b in tris
    )
    c1 = "((t.x2 - t.x1) * (c.iy - t.y1) - (t.y2 - t.y1) * (c.ix - t.x1))"
    c2 = "((t.x3 - t.x2) * (c.iy - t.y2) - (t.y3 - t.y2) * (c.ix - t.x2))"
    c3 = "((t.x1 - t.x3) * (c.iy - t.y3) - (t.y1 - t.y3) * (c.ix - t.x3))"
    inside = (
        f"(({c1} <= 0 AND {c2} <= 0 AND {c3} <= 0) OR "
        f"({c1} >= 0 AND {c2} >= 0 AND {c3} >= 0))"
    )
    return f"""
WITH {geo_oracle.points_cte()},
cells AS (
    SELECT floor({TIN_XLO!r}e0 + (lon + 180.0e0) * {TIN_SX!r}e0) AS ix,
           floor({TIN_YLO!r}e0 + (lat + 85.0e0) * {TIN_SY!r}e0) AS iy,
           count(*) AS n
    FROM pts GROUP BY 1, 2
),
tris(tri_idx, x1, y1, x2, y2, x3, y3, a0, a1, a2, b0, b1, b2) AS (VALUES {vals}),
hit AS (
    SELECT c.ix, c.iy, c.n, max(t.tri_idx) AS ti
    FROM cells c JOIN tris t ON {inside}
    GROUP BY c.ix, c.iy, c.n
),
pred AS (
    SELECT h.n,
           t.a0 * h.ix + t.a1 * h.iy + t.a2 AS px,
           t.b0 * h.ix + t.b1 * h.iy + t.b2 AS py
    FROM hit h JOIN tris t ON t.tri_idx = h.ti
),
outside AS (
    SELECT c.n FROM cells c
    LEFT JOIN hit h ON c.ix = h.ix AND c.iy = h.iy
    WHERE h.ti IS NULL
)
SELECT * FROM (
    SELECT cast(floor(px) as bigint) AS bucket,
           cast(sum(n) as bigint) AS n_points,
           cast(sum(cast(round(px * 1000000e0) as bigint) * n) as bigint) AS sum_px_e6,
           cast(sum(cast(round(py * 1000000e0) as bigint) * n) as bigint) AS sum_py_e6
    FROM pred GROUP BY 1
    UNION ALL
    SELECT NULL, cast(sum(n) as bigint), NULL, NULL
    FROM outside HAVING count(*) > 0
)
ORDER BY bucket NULLS LAST
"""


def model_accuracy() -> str:
    """Observable-refit residual metrics: same literal order-2
    coefficient matrix, same R=6367 haversine, same RMSE/MAE/MAX over
    the china22 GCP VALUES in row order."""
    from ..functions.geo import polynomial_predict_sql
    from .queries import model_accuracy_gate

    A, gcps = model_accuracy_gate()
    vals = ", ".join(
        f"({sx!r}e0, {sy!r}e0, {dx!r}e0, {dy!r}e0)" for sx, sy, dx, dy in gcps
    )
    px, py = polynomial_predict_sql(A, 2, "sx", "sy")
    hav = haversine_km_sql(f"({px})", f"({py})", "dx", "dy")
    return f"""
WITH g(sx, sy, dx, dy) AS (VALUES {vals}),
r AS (SELECT {hav} AS r FROM g)
SELECT cast(count(*) as bigint) AS n_points,
       cast(round(sqrt(avg(r * r)) * 1000000e0) as bigint) AS rmse_e6,
       cast(round(avg(abs(r)) * 1000000e0) as bigint) AS mae_e6,
       cast(round(max(abs(r)) * 1000000e0) as bigint) AS max_e6
FROM r
"""


def s2_cells() -> str:
    """Twin of q_s2_cells — independently formulated: the Spark side
    folds the Hilbert recurrence with F.aggregate; this side walks it
    as a recursive CTE (functions/s2.s2_hilbert_cte_sql), one
    recursion step per level, over face/i/j computed by plain nested
    SELECTs from the same published S2 spec."""
    from ..functions import s2
    from ..sources import oracle as _src_oracle
    from ..sources import synthspec
    from .queries import S2_CELL_LEVEL

    lvl = S2_CELL_LEVEL
    e = synthspec.point_exprs_sql("doc_num")
    # points_cte() nests a WITH inside the pts body; under WITH
    # RECURSIVE that stops binding (see grid_dbscan), so ``ids`` is
    # hoisted top-level here with the same derivation.
    return f"""
WITH RECURSIVE ids AS (SELECT {_src_oracle.DOC_NUM_SQL} AS doc_num FROM lineitem),
pts AS (
    SELECT doc_num, 0 AS span_pos,
           round({e['lon']}, 4) AS lon, round({e['lat']}, 4) AS lat
    FROM ids
    UNION ALL
    SELECT doc_num, 1 AS span_pos,
           {e['lon2']} AS lon, {e['lat2']} AS lat
    FROM ids WHERE {e['has_second']}
),
fij AS ({s2.s2_face_ij_sql('lon', 'lat', lvl)}),
{s2.s2_hilbert_cte_sql(lvl)}
SELECT face * {4 ** lvl} + d AS s2_cell, count(*) AS n_points
FROM hil WHERE remaining = 0
GROUP BY 1
ORDER BY n_points DESC, s2_cell
LIMIT 100
"""


def s2_rollup() -> str:
    """Twin of q_s2_rollup: fine cells from the recursive-CTE Hilbert
    walk (as in s2_cells), then the SAME two-level rollup with the
    face/prefix re-key spelled as plain integer arithmetic
    (face = c div 4^12, parent = face*4^7 + (d >> 2*(12-7)))."""
    from ..functions import s2
    from ..sources import oracle as _src_oracle
    from ..sources import synthspec
    from .queries import S2_CELL_LEVEL

    lvl, plvl = S2_CELL_LEVEL, 7
    fine_mod = 4 ** lvl
    shift = 2 * (lvl - plvl)
    e = synthspec.point_exprs_sql("doc_num")
    return f"""
WITH RECURSIVE ids AS (SELECT {_src_oracle.DOC_NUM_SQL} AS doc_num FROM lineitem),
pts AS (
    SELECT doc_num, 0 AS span_pos,
           round({e['lon']}, 4) AS lon, round({e['lat']}, 4) AS lat
    FROM ids
    UNION ALL
    SELECT doc_num, 1 AS span_pos,
           {e['lon2']} AS lon, {e['lat2']} AS lat
    FROM ids WHERE {e['has_second']}
),
fij AS ({s2.s2_face_ij_sql('lon', 'lat', lvl)}),
{s2.s2_hilbert_cte_sql(lvl)},
fine AS (
    SELECT face * {fine_mod} + d AS s2_cell, count(*) AS n
    FROM hil WHERE remaining = 0
    GROUP BY 1
)
SELECT (s2_cell // {fine_mod}) * {4 ** plvl}
       + ((s2_cell % {fine_mod}) >> {shift}) AS s2_cell7,
       cast(sum(n) as bigint) AS n_points,
       count(*) AS n_child_cells
FROM fine
GROUP BY 1
ORDER BY n_points DESC, s2_cell7
LIMIT 200
"""


def hexbin_counts() -> str:
    """Twin of q_hexbin_counts via the SAME shared SQL texts
    (cea_forward_sql + functions/hexgrid builders) — the ease_cells
    cross-engine-exactness strategy."""
    from ..functions import hexgrid
    from ..functions.geo import cea_forward_sql
    from .queries import HEX_LAT_TS, HEX_SIZE_M

    mx, my = cea_forward_sql("lon", "lat", HEX_LAT_TS)
    qf, rf = hexgrid.hex_qr_frac_sql("mx", "my", HEX_SIZE_M)
    stage = hexgrid.hex_round_stage_sql("qf", "rf")
    hq, hr = hexgrid.hex_qr_final_sql()
    stage_cols = ", ".join(f"{v} AS {k}" for k, v in stage.items())
    return f"""
WITH {geo_oracle.points_cte()},
m AS (SELECT {mx} AS mx, {my} AS my FROM pts),
fr AS (SELECT mx, my, {qf} AS qf, {rf} AS rf FROM m),
st AS (SELECT mx, my, {stage_cols} FROM fr),
hx AS (SELECT mx, my, {hq} AS hq, {hr} AS hr FROM st)
SELECT hq, hr, count(*) AS n_points,
       cast(sum(cast(round(mx) as bigint)) as bigint) AS sum_mx_m,
       cast(sum(cast(round(my) as bigint)) as bigint) AS sum_my_m
FROM hx
GROUP BY 1, 2
ORDER BY n_points DESC, hq, hr
LIMIT 100
"""
