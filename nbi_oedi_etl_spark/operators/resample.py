"""Hourly resample — the reference's flagship transform (A1 in SURVEY.md §2.4).

Reference semantics (etl/oedi_etl/transform.py:19-122): floor each 15-min
timestamp to the hour (epoch-ms integer division, transform.py:23-46), group
by the floored timestamp, aggregate ``min`` over the key columns and ``mean``
over 51 measure columns. pyarrow's ``group_by().aggregate`` names outputs
with aggregate-suffixes — proven by the downstream join on ``d.bldg_id_min``
(sql/saved-queries.sql:14) — so the output schema is
``bldg_id_min, timestamp_min, <measure>_mean…, <group keys>``
(SURVEY.md §1.4).

Group-key subtlety (SURVEY.md §7.4.2): the reference groups per FILE, and one
file = one (building, upgrade). A distributed engine unions all files, so the
hour-only group key would merge buildings and corrupt the means. The correct
distributed grouping adds the entity keys — ``(bldg_id, upgrade, state,
hour)`` — which is exactly equivalent to the per-file run.

Scale notes: this is one shuffle on (entity, hour) — partial (map-side)
aggregation comes free from Spark's hash aggregate, so the shuffle carries
pre-aggregated partial sums, not raw 15-min rows. 100 TB in → ~25 TB of
hourly output (the reference's observed 4× row reduction, README.md:129).
Skewed entities are impossible by construction (each building contributes
≤ 35,040 rows/year), so no salting is needed here. AQE coalesces the
post-shuffle partitions.

Construct cost: the aggregate is rendered as ONE SQL ``SELECT … GROUP BY``
string over the input DataFrame (``spark.sql(text, src=df)``), not built
Column by Column. Each ``F.avg``/``alias``/``dotted`` call is a py4j round
trip, so the Column-API form of the 51-measure projection cost ~2,400
gateway commands and ~0.25 s per warm call (4-core x86 host), a
per-request overhead that dominates a small interactive fetch. The SQL
form costs a constant handful of commands whatever the column count
(``tests/test_gateway_budget.py``), ~0.03 s warm, and analyzes to the
same optimized plan, so execution is unchanged.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from nbi_oedi_etl_spark.functions.scalars import quote_ident


def _measure_columns() -> list[str]:
    """The reference's 51 mean-aggregated measure columns, verbatim from
    etl/oedi_etl/transform.py:64-114.

    Note the asymmetry to preserve exactly:
    ``out.other_fuel.water_systems.energy_consumption`` has no ``_intensity``
    partner (transform.py:112) — the only 1-column fuel/enduse pair.
    """
    cols = []
    for fuel, enduses in [
        ("district_cooling", ["cooling", "total"]),
        ("district_heating", ["heating", "total", "water_systems"]),
        (
            "electricity",
            [
                "cooling",
                "exterior_lighting",
                "fans",
                "heat_recovery",
                "heat_rejection",
                "heating",
                "interior_equipment",
                "interior_lighting",
                "pumps",
                "refrigeration",
                "total",
                "water_systems",
            ],
        ),
        ("natural_gas", ["heating", "interior_equipment", "total", "water_systems"]),
        # water_systems is the lone intensity-less column, in reference
        # position (transform.py:112 — before the site_energy pair)
        ("other_fuel", ["cooling", "heating", "total", "water_systems"]),
        ("site_energy", ["total"]),
    ]:
        for enduse in enduses:
            cols.append(f"out.{fuel}.{enduse}.energy_consumption")
            if (fuel, enduse) != ("other_fuel", "water_systems"):
                cols.append(f"out.{fuel}.{enduse}.energy_consumption_intensity")
    return cols


REFERENCE_MEASURE_COLUMNS: tuple[str, ...] = tuple(_measure_columns())
assert len(REFERENCE_MEASURE_COLUMNS) == 51


def aggregate_items(
    min_cols: Sequence[str],
    mean_cols: Sequence[str],
    round_means: int | None = None,
) -> list[str]:
    """SQL select items of the resample's aggregates, in the reference's
    order and naming: ``min(c) AS c_min`` per ``min_cols`` entry, then
    ``avg(c) AS c_mean`` (``round(…, round_means)`` when set) per
    ``mean_cols`` entry. The one place that naming rule lives; the batch
    and the streaming resample both render through it."""
    items = [f"min({quote_ident(c)}) AS {quote_ident(c + '_min')}" for c in min_cols]
    for c in mean_cols:
        m = f"avg({quote_ident(c)})"
        if round_means is not None:
            m = f"round({m}, {int(round_means)})"
        items.append(f"{m} AS {quote_ident(c + '_mean')}")
    return items


def aggregate_sql(
    df: DataFrame, select_items: Sequence[str], group_items: Sequence[str]
) -> DataFrame:
    """``SELECT <select_items> FROM df GROUP BY <group_items>`` as one
    ``spark.sql`` call on ``df``'s own session (batch or streaming).

    ``df`` is bound through ``spark.sql``'s ``{src}`` formatter, so the
    rest of the text is a format string: braces in identifiers are
    doubled to stay literal."""

    def text(items: Sequence[str]) -> str:
        return ", ".join(items).replace("{", "{{").replace("}", "}}")

    return df.sparkSession.sql(
        f"SELECT {text(select_items)} FROM {{src}} GROUP BY {text(group_items)}", src=df
    )


def resample_hourly(
    df: DataFrame,
    ts_col: str = "timestamp",
    entity_cols: Sequence[str] = (),
    min_cols: Sequence[str] = ("bldg_id", "timestamp"),
    mean_cols: Sequence[str] = REFERENCE_MEASURE_COLUMNS,
    hour_col: str | None = None,
    round_means: int | None = None,
) -> DataFrame:
    """Resample to 1-hour resolution with the reference's naming convention.

    ``entity_cols`` are the distributed-correctness group keys (e.g.
    ``("bldg_id", "upgrade", "state")``); ``min_cols`` / ``mean_cols`` get
    ``_min`` / ``_mean`` suffixed outputs. The floored hour is emitted as
    ``hour_col`` (defaults to the group-key name the reference's pyarrow
    output appends: ``ts_col`` itself).

    ``round_means`` optionally rounds the means (useful for cross-engine
    comparison; reference leaves raw doubles).
    """
    hour_name = hour_col or ts_col
    # The reference floors by epoch-ms integer division
    # ``ts*1000 // 3_600_000 * 3_600_000`` (transform.py:23-46) in a per-row
    # Python loop; date_trunc is the same floor for UTC sessions, vectorized.
    hour = f"date_trunc('hour', {quote_ident(ts_col)})"
    keys = [quote_ident(c) for c in entity_cols]
    # Reference column order: explicit aggregates first, group key(s) last
    # (pyarrow appends grouping keys — SURVEY.md §1.4). The hour key is
    # grouped by its expression, not its alias: with the default
    # ``hour_col`` the alias equals the input timestamp's name, which
    # GROUP BY would resolve to the raw column.
    return aggregate_sql(
        df,
        aggregate_items(min_cols, mean_cols, round_means)
        + keys
        + [f"{hour} AS {quote_ident(hour_name)}"],
        keys + [hour],
    )
