#!/usr/bin/env python3
"""Measure the shape of an `events` parquet file: the figures `Events` is fitted to.

    python3 perfbench/fixture_stats.py <dir>/events.parquet

Prints one JSON object: row count, distinct users and the spread of records
per user, each event type's share, `value` quantiles and mean, the `props`
keys, the mean and median gap between consecutive `ts`, and the correlation
between columns. Needs the duckdb Python package; the benchmark itself does
not run it.
"""
import json
import sys

import duckdb


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2].strip())
    c = duckdb.connect()
    c.execute(f"CREATE VIEW e AS SELECT * FROM read_parquet('{sys.argv[1]}')")
    one = lambda q: c.execute(q).fetchone()
    rows, users, lo, hi = one("SELECT count(*), count(DISTINCT user_id), min(user_id), max(user_id) FROM e")
    per_user = one("SELECT quantile_cont(n, [0, 0.5, 1]) FROM (SELECT count(*) n FROM e GROUP BY user_id)")[0]
    shares = {t: round(n / rows, 4) for t, n in
              c.execute("SELECT event_type, count(*) FROM e GROUP BY 1 ORDER BY 1").fetchall()}
    probs = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    qs, mean = one(f"SELECT quantile_cont(value, {probs}), avg(value) FROM e")
    ks = one("SELECT count(DISTINCT k), min(k), max(k) FROM "
             "(SELECT CAST(json_extract(props, '$.k') AS INT) k FROM e)")
    gap = one("SELECT avg(g), median(g) FROM (SELECT epoch_ms(ts) - lag(epoch_ms(ts)) "
              "OVER (ORDER BY event_id) g FROM e) WHERE g IS NOT NULL")
    corr = one("SELECT corr(user_id, value), corr(event_id, value) FROM e")
    print(json.dumps({
        "rows": rows, "users": users, "user_id_range": [lo, hi],
        "records_per_user_min_median_max": per_user,
        "event_type_share": shares,
        "value_quantiles": {str(p): round(q, 3) for p, q in zip(probs, qs)}, "value_mean": round(mean, 3),
        "props_k_distinct_min_max": list(ks),
        "ts_gap_ms_mean_median": [round(g, 1) for g in gap],
        "corr_user_value_id_value": [round(x, 4) for x in corr],
    }, indent=1))


if __name__ == "__main__":
    main()
