"""Batch operators: relational surface (SURVEY.md §2.3).

Each module registers its ``(spark, sf_dir) -> DataFrame`` queries, each
with its DuckDB SQL twin, through ``registry.register(name, oracle)``;
``registry.collect()`` returns them for the driver contract.
"""
