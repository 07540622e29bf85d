"""Sources & sinks.

The reference's only source is a generated function-of-position grid
(laplace-seq.c:85-95 → laplace_blocked._init_block, and the
``laplace_grid`` Python data source in grid_source.py) and its only
sinks are an ordered stdout grid dump and a stats line
(laplace-seq.c:99-111, :224-226 → laplace.format_grid / print_stats).
The engine generalizes to the standard Spark readers/writers here.
"""

from pwir_zadanie_4_mapreduce_spark.sources.io import (  # noqa: F401
    read_csv,
    read_json,
    read_parquet,
    write_parquet,
)
