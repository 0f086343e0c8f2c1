"""Seeded inputs of the ``medallion_etl`` workload: the engine's own dirty
insurance CSVs from ``sources.generator.generate_raw_tables``. They are a
pure function of the seed and the client count, so the same seed gives
byte-identical files.
"""

from __future__ import annotations

import os


class _RowSink:
    """Stands in for the SparkSession ``generate_raw_tables`` expects:
    keeps the generated rows instead of building DataFrames, so the
    inputs are written without starting Spark."""

    def createDataFrame(self, data, schema):  # noqa: N802 — Spark's name
        return data, schema


def _csv_field(v) -> str:
    # Spark's CSV conventions: NULL is an empty field, strings are quoted
    # (so "" stays an empty string) with quotes doubled
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return '"' + v.replace('"', '""') + '"'
    return repr(v)


def medallion_csvs(csv_root: str, seed: int, n_clients: int) -> int:
    """Write the six dirty insurance source tables as
    ``<csv_root>/<table>.csv/part-0.csv`` and return the raw row count."""
    from datawarehouse_vehicule_insurance_spark.sources.generator import (
        generate_raw_tables,
    )

    total = 0
    for name, (rows, schema) in generate_raw_tables(
        _RowSink(), n_clients, seed
    ).items():
        os.makedirs(f"{csv_root}/{name}.csv")
        with open(f"{csv_root}/{name}.csv/part-0.csv", "w") as f:
            f.write(",".join(schema.fieldNames()) + "\n")
            for row in rows:
                f.write(",".join(map(_csv_field, row)) + "\n")
        total += len(rows)
    return total
