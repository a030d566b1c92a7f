"""Vectorized RAPTOR kernel over the broadcast Timetable.

Exact reference semantics (regular/default_raptor.rs, SURVEY §3.2 and
§7 hard part 3), NumPy-vectorized along route patterns:

* dual labels: actual arrival vs effective board (target stop records
  arrival, others departure — default_raptor.rs:85-96);
* mid-route trip upgrade = running minimum of per-position earliest
  catchable trips (np.searchsorted per pattern column ≡ the binary
  search in raptor_utils.rs:8-33; the running min is provably
  equivalent to the upgrade loop because an upgrade candidate is
  always ≤ the current trip);
* marks only when best arrival improves (state.rs:44-57);
* footpaths relax from board times within the round
  (raptor_utils.rs:63-103);
* single-target mode adds target-bound pruning + early exit
  (default_raptor.rs:104-106, 115-127).
"""

from __future__ import annotations

import numpy as np

from ferrobus_spark.routing.timetable import INF, Timetable


def raptor(
    tt: Timetable,
    source: int,
    departure: int,
    max_transfers: int,
    target: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """→ (best_arrival, best_transfers) int64 arrays; INF = unreachable."""
    n = tt.n_stops
    prev_arr = np.full(n, INF, np.int64)
    prev_board = np.full(n, INF, np.int64)
    curr_arr = np.full(n, INF, np.int64)
    curr_board = np.full(n, INF, np.int64)
    best = np.full(n, INF, np.int64)
    best_k = np.zeros(n, np.int64)
    marked = np.zeros(n, bool)

    def update(rnd: int, stop: int, arrival: int, board: int) -> bool:
        if arrival < curr_arr[stop]:
            curr_arr[stop] = arrival
            curr_board[stop] = board
            if arrival < best[stop]:
                best[stop] = arrival
                best_k[stop] = rnd
                return True
        return False

    update(0, source, departure, departure)
    marked[source] = True
    for k in range(tt.tr_indptr[source], tt.tr_indptr[source + 1]):
        t = int(tt.tr_target[k])
        nt = departure + int(tt.tr_secs[k])
        if update(0, t, nt, nt):
            marked[t] = True

    for rnd in range(1, max_transfers + 1):
        prev_arr, curr_arr = curr_arr, prev_arr
        prev_board, curr_board = curr_board, prev_board
        curr_arr.fill(INF)
        curr_board.fill(INF)

        # route queue: first marked position per route touching a marked stop
        marked_stops = np.nonzero(marked)[0]
        route_ids = np.unique(
            np.concatenate(
                [tt.sr_routes[tt.sr_indptr[s] : tt.sr_indptr[s + 1]] for s in marked_stops]
            )
            if len(marked_stops)
            else np.array([], np.int64)
        )
        marked_mask = marked.copy()
        marked.fill(False)
        target_bound = best[target] if target is not None else INF

        for r in route_ids:
            stops = tt.route_stops(int(r))
            mk = np.nonzero(marked_mask[stops])[0]
            if len(mk) == 0:
                continue
            start_pos = int(mk[0])
            arr_m, dep_m = tt.trip_block(int(r))
            n_trips = arr_m.shape[0]
            boards = prev_board[stops]  # (num_stops,)

            # earliest catchable trip per position (searchsorted per column,
            # exploiting non-overtaking sorted departures)
            e = np.full(len(stops), n_trips, np.int64)
            active = boards != INF
            active[:start_pos] = False
            for pos in np.nonzero(active)[0]:
                e[pos] = np.searchsorted(dep_m[:, pos], boards[pos], side="left")
            # running min from the first catchable position = trip ridden
            t_pos = np.minimum.accumulate(e)
            riding = t_pos < n_trips
            if not riding.any():
                continue
            for pos in np.nonzero(riding)[0]:
                ti = int(t_pos[pos])
                s = int(stops[pos])
                actual_arrival = int(arr_m[ti, pos])
                if target is not None and s == target:
                    effective_board = actual_arrival
                else:
                    effective_board = int(dep_m[ti, pos])
                if update(rnd, s, actual_arrival, effective_board):
                    marked[s] = True
                if effective_board >= target_bound:
                    break

        # footpaths from this round's marked stops
        new_marks = np.zeros(n, bool)
        tb = best[target] if target is not None else INF
        for s in np.nonzero(marked)[0]:
            cb = int(curr_board[s])
            for k in range(tt.tr_indptr[s], tt.tr_indptr[s + 1]):
                t = int(tt.tr_target[k])
                nt = cb + int(tt.tr_secs[k])
                if nt >= curr_board[t] or nt >= tb:
                    continue
                if update(rnd, t, nt, nt):
                    new_marks[t] = True
        marked |= new_marks

        if target is not None:
            at = curr_arr[target]
            if at != INF and at > best[target]:
                return best, best_k
        if not marked.any():
            break
    return best, best_k
