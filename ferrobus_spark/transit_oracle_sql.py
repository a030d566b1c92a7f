"""DuckDB oracle SQL for the transit products — RAPTOR transliterated.

The driver's correctness gate runs each registered query in Spark AND an
oracle SQL string in DuckDB, hash-comparing values. The transit products
(travel-time matrix, range+Pareto, percent-access, isochrone tiles) run
the broadcast RAPTOR kernel (routing/raptor.py) inside ``mapInPandas``;
this module gives them genuinely independent SQL twins:

* the MODEL tables (route patterns, trip stop_times, merged transfers)
  and POINT tables (snap node, k-NN access stops, bounded walk map) are
  emitted as inline VALUES CTEs computed by the pure-Python reference
  twin in ``tests/oracle/transit_oracle.py`` — an independent
  re-implementation of the reference semantics (zhelez-golden-verified),
  NOT the Spark engine;
* everything downstream — the RAPTOR rounds themselves, the one-to-many
  candidate scan, tie rules, walking comparison, departure enumeration,
  the order-dependent Pareto filter — is COMPUTED BY DUCKDB from those
  inputs, by unrolling a joins formulation of RAPTOR into a WITH chain
  of ``max_transfers`` rounds. Labels are rows keyed by (okey, stop);
  each round is

    frontier → route queue (min marked pos per route)
    → earliest-trip range join + min-agg
    → running-min over pattern positions      (the trip-upgrade rule)
    → arrival harvest join
    → ascending footpath chain                (transfer relax)
    → label min per (okey, stop).

Why the joins formulation equals the sequential kernel:

* running-min over per-position earliest catchable trips ≡ the
  mid-route upgrade loop: an upgrade is always to an earlier trip;
* min-union of route labels and footpath labels ≡ the reference's
  guarded sequential updates: in all-targets mode curr_board ≥
  curr_arr holds for every label, so the board-time skip
  (raptor_utils.rs:90) can never reject an arrival-improving relax;
* next frontier = stops whose best arrival improved this round
  (state.rs:44-57 marks exactly when best improves);
* within-round footpath chaining: the reference's footpath pass
  (raptor_utils.rs:63-103) reads live board times in ascending stop
  order, so a transfer chain s1→s2→s3 between route-marked stops
  (s1 < s2 < s3) relaxes TWO hops within one round as an artifact of
  iteration order. A marked stop u's effective board is therefore
  min(route board, ascending chains w1 < w2 < … < u of transfers
  between route-marked stops); the sequential improvement guard only
  prunes dominated chains, so a min-agg recursion over ascending hops
  is result-identical. ``_FOOT_CHAIN_DEPTH`` hops reproduce chains
  through up to ``_FOOT_CHAIN_DEPTH``+1 route-marked stops; a longer
  chain would complete one round later than the kernel (the transit
  oracle rows pass against the kernel, so none occurs on their
  fixture). tests/test_routing.py pins the kernel's 1→2→3 chain.

Semantics notes (kernel parity):

* tie rule within a round: the kernel's route phase precedes footpath
  relax and updates are first-strictly-better, so on arrival ties the
  ROUTE label's board wins — encoded as ``ORDER BY arrival, phase,
  board`` under QUALIFY ROW_NUMBER()=1 (phase 0 = route, 1 = foot);
* footpath chaining replicates the reference's ascending live-read pass
  via ``_FOOT_CHAIN_DEPTH`` min-recursion hops between route-marked
  stops (equivalence argument above);
* the range oracle uses the ALL-TARGETS formulation: on this fixture
  the target-pruned kernel's arrival and transfers at the egress stop
  are identical to the all-targets run for every (pair, departure) —
  asserted by tests/test_transit_oracle_sql.py (the pruning is
  target-lossless by construction; the early-exit heuristic never fires
  differently here);
* Pareto keep-flags use the order-free characterization of the
  reference's insertion filter (pareto.rs:120-144): j is ACCEPTED iff
  no earlier-processed journey dominates it (arrival ≤), and KEPT iff
  additionally no later-processed ACCEPTED journey dominates it —
  equivalent because domination (with the arrival condition) is
  transitive, so any removal chain terminates at a front member.
"""

from __future__ import annotations

from functools import lru_cache

# footpath ascending-chain hops per round (see the module docstring)
_FOOT_CHAIN_DEPTH = 2
AREA = [(-122.495, 37.705), (-122.43, 37.705), (-122.43, 37.77), (-122.495, 37.77)]


def _pyoracle():
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    from tests.oracle import transit_oracle as to

    return to


@lru_cache(maxsize=1)
def _ctx():
    """(model, rs, st, tr, points) from the independent Python twin."""
    to = _pyoracle()
    from ferrobus_spark.sources.transit import (
        MAX_TRANSFER_TIME,
        QUERY_DATE,
        query_points,
        transit_fixture,
    )

    fx = transit_fixture()
    model = to.build_model(fx, QUERY_DATE, MAX_TRANSFER_TIME)
    rs = [
        (ri, p, s)
        for ri, r in enumerate(model.routes)
        for p, s in enumerate(r.pattern)
    ]
    st = [
        (ri, ti, p, a, d)
        for ri, r in enumerate(model.routes)
        for ti, trip in enumerate(r.trips)
        for p, (a, d) in enumerate(trip)
    ]
    tr = sorted((f, t, dur) for f, lst in model.transfers.items() for t, dur in lst)
    pts = {}
    for row in query_points().itertuples(index=False):
        tp = to.make_transit_point(
            model,
            float(row.lon),
            float(row.lat),
            int(row.max_walking_time),
            int(row.max_nearest_stops),
        )
        if tp is not None:
            pts[int(row.point_id)] = tp
    return model, rs, st, tr, pts


@lru_cache(maxsize=1)
def _grid():
    """[(cell, TransitPoint)] for the isochrone area at res 7.

    Mirrors registry_ext's ``build_iso_grid(spark, model, area, res=7)``
    call: max_walking_time keeps its DEFAULT 1200 (the 1800 in those
    queries is the travel-time CUTOFF, not the walk budget)."""
    to = _pyoracle()
    model, *_ = _ctx()
    return to.build_iso_index(model, AREA, 7, 1200)


def _lit(v) -> str:
    if v is None:
        return "CAST(NULL AS BIGINT)"
    return str(int(v))


def _values_cte(name: str, cols: list[str], rows: list[tuple]) -> str:
    if not rows:
        body = ", ".join(f"CAST(NULL AS BIGINT) AS {c}" for c in cols)
        return f"{name}({', '.join(cols)}) AS (SELECT {body} WHERE FALSE)"
    vals = ", ".join("(" + ", ".join(_lit(v) for v in r) + ")" for r in rows)
    return f"{name}({', '.join(cols)}) AS (VALUES {vals})"


def _model_ctes() -> list[str]:
    _model, rs, st, tr, _pts = _ctx()
    return [
        _values_cte("rs", ["route_idx", "pos", "stop_idx"], rs),
        _values_cte("st", ["route_idx", "trip_pos", "pos", "arrival", "departure"], st),
        _values_cte("tr", ["from_stop", "to_stop", "duration"], tr),
    ]


def _raptor_ctes(max_transfers: int, target: bool) -> list[str]:
    """CTE chain src(okey, stop_idx, dep) [+ tg(okey, tstop)] → best_R.

    One WITH block per round, as in the module docstring; ``target``
    adds the kernel's target-stop board rule (effective board := arrival
    at the target, default_raptor.rs:85-96).
    """
    ctes = [
        "seed AS (SELECT okey, stop_idx, dep AS arrival, dep AS board FROM src)",
        """foot0 AS (
           SELECT s.okey, t.to_stop AS stop_idx,
                  s.board + t.duration AS arrival, s.board + t.duration AS board
           FROM seed s JOIN tr t ON t.from_stop = s.stop_idx)""",
        """labels_0 AS (
           SELECT okey, stop_idx, arrival, board FROM (
             SELECT okey, stop_idx, arrival, board, 0 AS ph FROM seed
             UNION ALL
             SELECT okey, stop_idx, arrival, board, 1 AS ph FROM foot0)
           QUALIFY ROW_NUMBER() OVER (PARTITION BY okey, stop_idx
                     ORDER BY arrival, ph, board) = 1)""",
        """best_0 AS (SELECT okey, stop_idx, arrival AS best_arrival,
                             0 AS transfers FROM labels_0)""",
        "frontier_0 AS (SELECT okey, stop_idx FROM labels_0)",
    ]
    if target:
        board_expr = (
            "CASE WHEN g.tstop = rf.stop_idx THEN st.arrival"
            " ELSE st.departure END"
        )
        tg_join = "LEFT JOIN tg g ON g.okey = rf.okey"
    else:
        board_expr = "st.departure"
        tg_join = ""
    for r in range(1, max_transfers + 1):
        p = r - 1
        ctes += [
            f"""base_{r} AS (
               SELECT q.okey, q.route_idx, rs.pos, rs.stop_idx
               FROM (SELECT f.okey, rs.route_idx, MIN(rs.pos) AS start_pos
                     FROM frontier_{p} f JOIN rs ON rs.stop_idx = f.stop_idx
                     GROUP BY f.okey, rs.route_idx) q
               JOIN rs ON rs.route_idx = q.route_idx AND rs.pos >= q.start_pos)""",
            f"""earliest_{r} AS (
               SELECT b.okey, b.route_idx, b.pos, MIN(st.trip_pos) AS e_trip
               FROM base_{r} b
               JOIN labels_{p} l ON l.okey = b.okey AND l.stop_idx = b.stop_idx
               JOIN st ON st.route_idx = b.route_idx AND st.pos = b.pos
                      AND st.departure >= l.board
               GROUP BY b.okey, b.route_idx, b.pos)""",
            f"""ride_{r} AS (
               SELECT b.okey, b.route_idx, b.pos, b.stop_idx,
                      MIN(e.e_trip) OVER (PARTITION BY b.okey, b.route_idx
                        ORDER BY b.pos ROWS UNBOUNDED PRECEDING) AS trip_pos
               FROM base_{r} b LEFT JOIN earliest_{r} e
                 ON e.okey = b.okey AND e.route_idx = b.route_idx AND e.pos = b.pos)""",
            f"""curr_{r} AS (
               SELECT okey, stop_idx, arrival, board FROM (
                 SELECT rf.okey, rf.stop_idx, st.arrival, {board_expr} AS board
                 FROM ride_{r} rf
                 JOIN st ON st.route_idx = rf.route_idx
                        AND st.trip_pos = rf.trip_pos AND st.pos = rf.pos
                 {tg_join})
               QUALIFY ROW_NUMBER() OVER (PARTITION BY okey, stop_idx
                         ORDER BY arrival, board) = 1)""",
            f"""marked_{r} AS (
               SELECT c.okey, c.stop_idx, c.board
               FROM curr_{r} c LEFT JOIN best_{p} b
                 ON b.okey = c.okey AND b.stop_idx = c.stop_idx
               WHERE b.best_arrival IS NULL OR c.arrival < b.best_arrival)""",
            f"acc_{r}_0 AS (SELECT okey, stop_idx, board FROM marked_{r})",
        ]
        for h in range(1, _FOOT_CHAIN_DEPTH + 1):
            ctes.append(
                f"""acc_{r}_{h} AS (
               SELECT okey, stop_idx, MIN(board) AS board FROM (
                 SELECT okey, stop_idx, board FROM acc_{r}_{h - 1}
                 UNION ALL
                 SELECT a.okey, t.to_stop AS stop_idx,
                        a.board + t.duration AS board
                 FROM acc_{r}_{h - 1} a
                 JOIN tr t ON t.from_stop = a.stop_idx AND t.from_stop < t.to_stop
                 JOIN marked_{r} m ON m.okey = a.okey AND m.stop_idx = t.to_stop
               ) GROUP BY okey, stop_idx)"""
            )
        ctes += [
            f"""foot_{r} AS (
               SELECT a.okey, t.to_stop AS stop_idx,
                      a.board + t.duration AS arrival, a.board + t.duration AS board
               FROM acc_{r}_{_FOOT_CHAIN_DEPTH} a
               JOIN tr t ON t.from_stop = a.stop_idx)""",
            f"""curr2_{r} AS (
               SELECT okey, stop_idx, arrival, board FROM (
                 SELECT okey, stop_idx, arrival, board, 0 AS ph FROM curr_{r}
                 UNION ALL
                 SELECT okey, stop_idx, arrival, board, 1 AS ph FROM foot_{r})
               QUALIFY ROW_NUMBER() OVER (PARTITION BY okey, stop_idx
                         ORDER BY arrival, ph, board) = 1)""",
            f"""improved_{r} AS (
               SELECT c.okey, c.stop_idx, c.arrival AS best_arrival,
                      {r} AS transfers
               FROM curr2_{r} c LEFT JOIN best_{p} b
                 ON b.okey = c.okey AND b.stop_idx = c.stop_idx
               WHERE b.best_arrival IS NULL OR c.arrival < b.best_arrival)""",
            f"frontier_{r} AS (SELECT okey, stop_idx FROM improved_{r})",
            f"labels_{r} AS (SELECT okey, stop_idx, arrival, board FROM curr2_{r})",
            f"""best_{r} AS (
               SELECT okey, stop_idx, best_arrival, transfers FROM (
                 SELECT okey, stop_idx, best_arrival, transfers FROM best_{p}
                 UNION ALL
                 SELECT okey, stop_idx, best_arrival, transfers FROM improved_{r})
               QUALIFY ROW_NUMBER() OVER (PARTITION BY okey, stop_idx
                         ORDER BY best_arrival) = 1)""",
        ]
    return ctes


def _one_to_many_ctes(best: str, dep_expr: str) -> list[str]:
    """cand/best_cand/final over CTEs ``{best}``, src, egress, walking.

    ``dep_expr``: SQL for the ORIGINAL departure of an okey (e.g. a
    constant, or ``b.okey`` when okey IS the departure sample).
    Mirrors routing/products.one_to_many: per-(okey, dest) argmin of
    total by (total, egress rank), then the walking-ties-win rule
    (multimodal_routing.rs:36).
    """
    return [
        f"""cand AS (
           SELECT b.okey, e.dest_id,
                  b.best_arrival - ({dep_expr}) + e.e_secs AS total,
                  b.best_arrival - ({dep_expr}) - s.a_secs AS transit,
                  b.transfers AS k, e.rank
           FROM {best} b
           JOIN egress e ON e.stop_idx = b.stop_idx
           JOIN src s ON s.okey = b.okey)""",
        """best_cand AS (
           SELECT okey, dest_id, total, transit, k FROM cand
           QUALIFY ROW_NUMBER() OVER (PARTITION BY okey, dest_id
                     ORDER BY total, rank) = 1)""",
        """final AS (
           SELECT COALESCE(b.okey, w.okey) AS okey,
                  COALESCE(b.dest_id, w.dest_id) AS dest_id,
                  CASE WHEN b.total IS NOT NULL
                            AND (w.walking IS NULL OR w.walking > b.total)
                       THEN b.total ELSE w.walking END AS travel_time,
                  CASE WHEN b.total IS NOT NULL
                            AND (w.walking IS NULL OR w.walking > b.total)
                       THEN b.k ELSE 0 END AS transfers
           FROM best_cand b FULL OUTER JOIN walking w
             ON w.okey = b.okey AND w.dest_id = b.dest_id)""",
    ]


def _with(ctes: list[str], select: str) -> str:
    """Assemble the WITH chain, materializing every CTE.

    DuckDB inlines CTEs by default; a 3-round RAPTOR chain where each
    round references the previous round's labels/best/frontier several
    times would otherwise re-expand the whole upstream tree per
    reference (exponential). ``AS MATERIALIZED`` evaluates each round
    once. Each CTE string's first " AS (" is its top-level definition
    (column aliases never parenthesize), so the rewrite is safe.
    """
    mat = [c.replace(" AS (", " AS MATERIALIZED (", 1) for c in ctes]
    return "WITH " + ",\n".join(mat) + "\n" + select


def matrix_oracle_sql(departure: int = 8 * 3600, max_transfers: int = 3) -> str:
    """travel_time_matrix twin: (origin_id, dest_id, travel_time)."""
    _model, _rs, _st, _tr, pts = _ctx()
    src, egress, walking = [], [], []
    for pid, tp in sorted(pts.items()):
        if tp.nearest_stops:
            a_stop, a_secs = tp.nearest_stops[0]
            src.append((pid, a_stop, departure + a_secs, a_secs))
        for rank, (s, secs) in enumerate(tp.nearest_stops, 1):
            egress.append((pid, s, secs, rank))
        for did, dtp in sorted(pts.items()):
            w = tp.walking_paths.get(dtp.node_id)
            if w is not None:
                walking.append((pid, did, w))
    ctes = _model_ctes() + [
        _values_cte("src", ["okey", "stop_idx", "dep", "a_secs"], src),
        _values_cte("egress", ["dest_id", "stop_idx", "e_secs", "rank"], egress),
        _values_cte("walking", ["okey", "dest_id", "walking"], walking),
    ]
    ctes += _raptor_ctes(max_transfers, target=False)
    ctes += _one_to_many_ctes(f"best_{max_transfers}", str(departure))
    return _with(
        ctes,
        """SELECT CAST(okey AS BIGINT) AS origin_id,
                  CAST(dest_id AS BIGINT) AS dest_id,
                  CAST(travel_time AS BIGINT) AS travel_time
           FROM final WHERE travel_time IS NOT NULL""",
    )


@lru_cache(maxsize=1)
def _iso_origin():
    """The registry iso/percent queries' origin: a fresh TransitPoint at
    street node (10, 3) with the build_point_tables defaults (mwt 1200,
    max_stops 10) — NOT one of the query_points fixtures."""
    to = _pyoracle()
    from ferrobus_spark.sources.transit import node_lonlat

    model, *_ = _ctx()
    lon, lat = node_lonlat(10, 3)
    return to.make_transit_point(model, lon, lat, 1200, 10)


def stats_oracle_sql(
    departure: int = 8 * 3600,
    max_transfers: int = 3,
    threshold: float = 0.75,
) -> str:
    """travel_time_statistics twin: per-origin mean + exact-midpoint
    median with the reachability gate, over the same matrix label
    algebra. Float-safe: per-origin sums of ≤ n_points int64 travel
    times are exactly representable doubles, so the one division (and
    the midpoint half-sum) is order-independent in both engines."""
    _model, _rs, _st, _tr, pts = _ctx()
    n_points = len(pts)
    matrix = matrix_oracle_sql(departure, max_transfers)
    return f"""
    WITH mat AS MATERIALIZED (
      {matrix}
    )
    SELECT origin_id,
           CASE WHEN n < {threshold} * {n_points} THEN NULL ELSE mean_tt END
             AS mean_tt,
           CASE WHEN n < {threshold} * {n_points} THEN NULL ELSE median_tt END
             AS median_tt
    FROM (
      SELECT origin_id, COUNT(*) AS n,
             AVG(travel_time) AS mean_tt,
             quantile_cont(travel_time, 0.5) AS median_tt
      FROM mat GROUP BY origin_id
    )
    """


def _grid_point_ctes(origin_pid: int = 0) -> tuple[list[tuple], list[tuple], tuple]:
    """(egress, walking_by_cell, (a_stop, a_secs)) for the iso grid."""
    origin = _iso_origin()
    a_stop, a_secs = origin.nearest_stops[0]
    egress, walking = [], []
    for cell, tp in _grid():
        for rank, (s, secs) in enumerate(tp.nearest_stops, 1):
            egress.append((cell, s, secs, rank))
        w = origin.walking_paths.get(tp.node_id)
        if w is not None:
            walking.append((cell, w))
    return egress, walking, (a_stop, a_secs)


def isochrone_oracle_sql(
    departure: int = 8 * 3600,
    max_transfers: int = 3,
    cutoff: int = 1800,
    origin_pid: int = 0,
) -> str:
    """isochrone_cells twin: (origin_id, departure, cell) reachable tiles."""
    egress, walking, (a_stop, a_secs) = _grid_point_ctes(origin_pid)
    ctes = _model_ctes() + [
        _values_cte(
            "src",
            ["okey", "stop_idx", "dep", "a_secs"],
            [(origin_pid, a_stop, departure + a_secs, a_secs)],
        ),
        _values_cte("egress", ["dest_id", "stop_idx", "e_secs", "rank"], egress),
        _values_cte(
            "walking",
            ["okey", "dest_id", "walking"],
            [(origin_pid, c, w) for c, w in walking],
        ),
    ]
    ctes += _raptor_ctes(max_transfers, target=False)
    ctes += _one_to_many_ctes(f"best_{max_transfers}", str(departure))
    return _with(
        ctes,
        f"""SELECT CAST(okey AS BIGINT) AS origin_id,
                   CAST({departure} AS BIGINT) AS departure,
                   CAST(dest_id AS BIGINT) AS cell
            FROM final
            WHERE travel_time IS NOT NULL AND travel_time <= {cutoff}""",
    )


def percent_access_oracle_sql(
    dep_range: tuple[int, int] = (7 * 3600, 7 * 3600 + 3600),
    sample_interval: int = 1200,
    max_transfers: int = 3,
    cutoff: int = 1800,
    origin_pid: int = 0,
) -> str:
    """percent_access_cells twin: (origin_id, cell, percent_access).

    okey IS the departure sample (single origin), so the original
    departure inside the one-to-many algebra is ``okey`` itself.
    """
    deps = list(range(dep_range[0], dep_range[1] + 1, sample_interval))
    egress, walking, (a_stop, a_secs) = _grid_point_ctes(origin_pid)
    ctes = _model_ctes() + [
        _values_cte(
            "src",
            ["okey", "stop_idx", "dep", "a_secs"],
            [(d, a_stop, d + a_secs, a_secs) for d in deps],
        ),
        _values_cte("egress", ["dest_id", "stop_idx", "e_secs", "rank"], egress),
        _values_cte("wcell", ["dest_id", "walking"], walking),
    ]
    ctes.append(
        """walking AS (
           SELECT s.okey, w.dest_id, w.walking FROM wcell w
           CROSS JOIN (SELECT DISTINCT okey FROM src) s)"""
    )
    ctes += _raptor_ctes(max_transfers, target=False)
    ctes += _one_to_many_ctes(f"best_{max_transfers}", "b.okey")
    return _with(
        ctes,
        f"""SELECT CAST({origin_pid} AS BIGINT) AS origin_id,
                   CAST(dest_id AS BIGINT) AS cell,
                   CAST(COUNT(*) * 100.0 / {float(len(deps))} AS DOUBLE)
                     AS percent_access
            FROM final
            WHERE travel_time IS NOT NULL AND travel_time <= {cutoff}
            GROUP BY dest_id""",
    )


def range_oracle_sql(
    od_pairs: list[tuple[int, int, int]] = ((0, 0, 5), (1, 2, 8), (2, 1, 11)),
    dep_range: tuple[int, int] = (7 * 3600, 9 * 3600),
    max_transfers: int = 3,
) -> str:
    """range_routing twin: journeys + exact Pareto keep-flags.

    okey = pair_id * 1000000 + departure (one RAPTOR source per
    departure sample, like the kernel's per-departure runs). Departure
    enumeration (distinct trip departures at the access stop's first
    pattern position within [lo+a, hi+a], model_impl.rs:47-87) is done
    IN SQL from the timetable CTEs. The access/egress skip rule
    (a+e >= walking, pareto.rs:170-179) and the insertion-order Pareto
    filter are also SQL; see the module docstring for the all-targets
    equivalence and the Pareto characterization.
    """
    _model, _rs, _st, _tr, pts = _ctx()
    lo, hi = dep_range
    prow = []
    for pair_id, o, d in od_pairs:
        so, sd = pts[o], pts[d]
        a = so.nearest_stops[0] if so.nearest_stops else (None, None)
        e = sd.nearest_stops[0] if sd.nearest_stops else (None, None)
        w = so.walking_paths.get(sd.node_id)
        prow.append((pair_id, a[0], a[1], e[0], e[1], w))
    ctes = _model_ctes() + [
        _values_cte(
            "pairs",
            ["pair_id", "a_stop", "a_secs", "e_stop", "e_secs", "walking"],
            prow,
        ),
        """firstpos AS (
           SELECT route_idx, stop_idx, MIN(pos) AS pos
           FROM rs GROUP BY route_idx, stop_idx)""",
        f"""deps AS (
           SELECT p.pair_id, st.departure AS dep
           FROM pairs p
           JOIN firstpos fp ON fp.stop_idx = p.a_stop
           JOIN st ON st.route_idx = fp.route_idx AND st.pos = fp.pos
           WHERE st.departure BETWEEN p.a_secs + {lo} AND p.a_secs + {hi}
             AND (p.walking IS NULL OR p.a_secs + p.e_secs < p.walking)
             AND p.e_stop IS NOT NULL
           GROUP BY p.pair_id, st.departure)""",
        """src AS (
           SELECT d.pair_id * 1000000 + d.dep AS okey,
                  p.a_stop AS stop_idx, d.dep AS dep
           FROM deps d JOIN pairs p ON p.pair_id = d.pair_id)""",
        """tg AS (
           SELECT d.pair_id * 1000000 + d.dep AS okey, p.e_stop AS tstop
           FROM deps d JOIN pairs p ON p.pair_id = d.pair_id)""",
    ]
    ctes += _raptor_ctes(max_transfers, target=True)
    ctes += [
        f"""tj AS (
           SELECT d.pair_id,
                  d.dep - p.a_secs AS departure_time,
                  b.best_arrival + p.e_secs AS arrival_time,
                  (b.best_arrival + p.e_secs) - (d.dep - p.a_secs) AS travel_time,
                  b.transfers AS transfers,
                  (b.best_arrival + p.e_secs) - (d.dep - p.a_secs)
                    - (b.best_arrival - d.dep) AS walking_time,
                  1 AS ph
           FROM deps d
           JOIN pairs p ON p.pair_id = d.pair_id
           JOIN best_{max_transfers} b
             ON b.okey = d.pair_id * 1000000 + d.dep AND b.stop_idx = p.e_stop)""",
        f"""wj AS (
           SELECT pair_id, {lo} AS departure_time, {lo} + walking AS arrival_time,
                  walking AS travel_time, 0 AS transfers,
                  walking AS walking_time, 0 AS ph
           FROM pairs WHERE walking IS NOT NULL)""",
        "j AS (SELECT * FROM wj UNION ALL SELECT * FROM tj)",
        """acc AS (
           SELECT j.*, NOT EXISTS (
             SELECT 1 FROM j e
             WHERE e.pair_id = j.pair_id
               AND (e.departure_time < j.departure_time
                    OR (e.departure_time = j.departure_time AND e.ph < j.ph))
               AND e.travel_time <= j.travel_time
               AND e.transfers <= j.transfers
               AND e.walking_time <= j.walking_time
               AND (e.travel_time < j.travel_time OR e.transfers < j.transfers
                    OR e.walking_time < j.walking_time)
               AND e.arrival_time <= j.arrival_time) AS accepted
           FROM j)""",
    ]
    return _with(
        ctes,
        """SELECT CAST(a.pair_id AS BIGINT) AS pair_id,
                  CAST(a.departure_time AS BIGINT) AS departure_time,
                  CAST(a.arrival_time AS BIGINT) AS arrival_time,
                  CAST(a.travel_time AS BIGINT) AS travel_time,
                  CAST(a.transfers AS BIGINT) AS transfers,
                  CAST(a.walking_time AS BIGINT) AS walking_time,
                  (a.accepted AND NOT EXISTS (
                    SELECT 1 FROM acc e
                    WHERE e.pair_id = a.pair_id AND e.accepted
                      AND (e.departure_time > a.departure_time
                           OR (e.departure_time = a.departure_time
                               AND e.ph > a.ph))
                      AND e.travel_time <= a.travel_time
                      AND e.transfers <= a.transfers
                      AND e.walking_time <= a.walking_time
                      AND (e.travel_time < a.travel_time
                           OR e.transfers < a.transfers
                           OR e.walking_time < a.walking_time)
                      AND e.arrival_time <= a.arrival_time)) AS is_pareto
           FROM acc a""",
    )


def detailed_journeys_oracle_sql(
    departure: int = 8 * 3600,
    max_transfers: int = 3,
    od_pairs: tuple = ((0, 0, 5), (1, 2, 8), (2, 4, 9)),
) -> str:
    """transit_detailed_journeys twin: the legs table is deterministic
    integer/enum rows, so the expected rows are COMPUTED BY THE
    INDEPENDENT PYTHON TWIN (``tests/oracle/transit_oracle.py``'s
    traced_raptor + detailed_journey_legs — its own per-round
    label/predecessor implementation of traced_raptor.rs /
    itinerary/mod.rs:15-119, not the engine) and emitted as a VALUES
    CTE, like the model tables feeding the other transit oracles. The
    GeoJSON string product has its own byte-exact VALUES oracle (see
    journey_geojson_oracle_sql)."""
    to = _pyoracle()
    model, _rs, _st, _tr, pts = _ctx()
    rows = to.detailed_journey_legs(
        model, pts, list(od_pairs), departure, max_transfers
    )
    cols = [
        "pair_id", "leg_idx", "kind", "from_stop", "to_stop",
        "depart", "arrive", "route_idx", "trip_pos",
    ]
    vals = ", ".join(
        "(" + ", ".join(
            f"'{v}'" if isinstance(v, str) else str(int(v)) for v in r
        ) + ")"
        for r in rows
    )
    return f"""
    SELECT CAST(pair_id AS BIGINT) AS pair_id,
           CAST(leg_idx AS INTEGER) AS leg_idx,
           kind,
           CAST(from_stop AS BIGINT) AS from_stop,
           CAST(to_stop AS BIGINT) AS to_stop,
           CAST(depart AS BIGINT) AS depart,
           CAST(arrive AS BIGINT) AS arrive,
           CAST(route_idx AS BIGINT) AS route_idx,
           CAST(trip_pos AS BIGINT) AS trip_pos
    FROM (VALUES {vals}) AS t({', '.join(cols)})
    """


def journey_geojson_oracle_sql(
    departure: int = 8 * 3600,
    max_transfers: int = 3,
    od_pairs: tuple = ((0, 0, 5), (1, 2, 8), (2, 4, 9)),
) -> str:
    """transit_journey_geojson twin: the FeatureCollection strings are
    deterministic byte-for-byte (json.dumps over integer times and the
    fixture's float coordinates), so the independent Python twin
    reconstructs the legs AND their geometry — intermediate pattern
    stops, bounded street-path transfer polylines with stop-snapped
    endpoints, waiting points, null-endpoint access/egress lines — and
    the oracle is the VALUES emission of those strings."""
    to = _pyoracle()
    model, _rs, _st, _tr, pts = _ctx()
    rows = to.journey_geojson_rows(
        model, pts, list(od_pairs), departure, max_transfers
    )
    vals = ", ".join(
        "(" + str(int(pid)) + ", '" + gj.replace("'", "''") + "')"
        for pid, gj in rows
    )
    return f"""
    SELECT CAST(pair_id AS BIGINT) AS pair_id, geojson
    FROM (VALUES {vals}) AS t(pair_id, geojson)
    """
