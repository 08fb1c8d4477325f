"""The two registry query workloads, ``query_eager_build`` and
``query_exec_bound``.

Membership is frozen in ``workloads.json`` (see ``classify.py``): a query
belongs to ``query_eager_build`` when its warm ``fn(spark, sf_dir)`` call
launched at least one Spark job on the reference sf0.1 tables.  Each list
is ordered by the query's measured warm item time and cut into as many
equal strata as the sample has queries; the seed draws one query from each
stratum and the order in which a pass visits them.  A sample therefore
covers the cost range of its list whatever the seed.

Every item's result is checked: oracle-backed queries against a digest of
their DuckDB oracle over the same generated tables, rows-only queries
against the digest their untimed warm-up call produced.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import numpy as np

from stats import digest

HERE = Path(__file__).resolve().parent
TOLERANCE = 0.03  # allowed relative deviation of a sample's cost profile


def load_lists(path: Path = HERE / "workloads.json") -> dict:
    return json.loads(path.read_text())


def _profile(picks: list[str], cost: dict[str, float]) -> tuple[float, float, float]:
    c = [cost[n] for n in picks]
    return sum(c), float(np.median(c)), max(c)


def sample(names_by_cost: list[str], k: int, seed: int, salt: int, cost: dict[str, float]) -> list[str]:
    """One query from each of ``k`` equal strata of the cost-ordered list,
    visited in a seed-chosen order.

    Draws are repeated until the sample's total, median and largest
    ``cost`` (calibrated warm item seconds) are each within ``TOLERANCE``
    of their typical values, so seeds change which queries run but hardly
    how much work a pass holds."""
    bounds = np.linspace(0, len(names_by_cost), k + 1).round().astype(int)
    strata = list(zip(bounds[:-1], bounds[1:]))

    def draw(rng) -> list[str]:
        return [names_by_cost[int(rng.integers(lo, hi))] for lo, hi in strata]

    rng = np.random.default_rng([seed, salt])
    picks = draw(rng)
    ref_rng = np.random.default_rng([salt, 0])
    target = np.median([_profile(draw(ref_rng), cost) for _ in range(2000)], axis=0)
    best, best_err = picks, np.inf
    for _ in range(20_000):
        err = float(np.max(np.abs(np.array(_profile(picks, cost)) / target - 1.0)))
        if err < best_err:
            best, best_err = picks, err
        if err <= TOLERANCE:
            break
        picks = draw(rng)
    picks = best
    return [picks[i] for i in rng.permutation(len(picks))]


def oracle_digests(names: list[str], data_dir: str) -> dict[str, tuple[int, str]]:
    """DuckDB's answer for every oracle-backed name, as a digest."""
    import duckdb

    from sales_telegram_bot_data_pipeline_spark.queries import REGISTRY
    from sales_telegram_bot_data_pipeline_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t + '.parquet')}')"
            )
        out = {}
        for name in names:
            sql = REGISTRY[name].oracle
            if sql is not None:
                rel = con.sql(sql)
                out[name] = digest(list(rel.columns), [tuple(r) for r in rel.fetchall()])
        return out
    finally:
        con.close()



def prepare_inputs(data_dir: str, sf: float, seed: int, names: list[str], out_path: str) -> None:
    """Write the seeded tables and the DuckDB reference digests of ``names``
    to ``out_path`` as JSON."""
    import datagen

    datagen.write_tables(data_dir, sf, seed)
    with open(out_path, "w") as f:
        json.dump(oracle_digests(names, data_dir), f)


if __name__ == "__main__":
    # python3 qmix.py DATA_DIR SF SEED OUT_JSON NAME...  (the harness runs
    # this in a child process, so its memory stays out of the run's peak RSS)
    d, sf, seed, out, *qs = sys.argv[1:]
    prepare_inputs(d, float(sf), int(seed), qs, out)
