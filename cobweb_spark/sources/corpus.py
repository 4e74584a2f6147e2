"""Corpus sources: the spans ``documents`` table and robots rules.

The documents table (BASELINE.json input_hint schema) is the engine's
input: Iceberg in production (snapshot isolation per wave); parquet with
identical layout in the sandbox. Loaders here keep the storage format
behind one seam.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..model import DOCUMENTS_SCHEMA, ROBOTS_SCHEMA
from ..testkit import fixtures as fx

# generated corpora cache in the checkout that holds this package (next to
# ``__spark_entry__.CACHE``), so two checkouts never share one cache
CACHE_DIR = os.path.join(
    os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ),
    ".cache_corpus",
)


def corpus_df(spark: SparkSession, corpus: dict) -> DataFrame:
    """In-memory OracleDoc corpus → documents DataFrame (tests)."""
    return spark.createDataFrame(
        fx.corpus_to_rows(corpus), DOCUMENTS_SCHEMA
    )


def load_documents(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(DOCUMENTS_SCHEMA).parquet(path)


def robots_df(spark: SparkSession, rules: list[tuple]) -> DataFrame:
    """(host, user_agent, rule, pattern, rank) rows → robots table."""
    return spark.createDataFrame(rules, ROBOTS_SCHEMA)


def cached_scale_corpus(
    cache_dir: str = CACHE_DIR, **params
) -> tuple[str, list[str]]:
    """Generate (once) and cache the T4 scale corpus parquet; returns
    (path, seed_urls). Deterministic in params+seed."""
    key = "_".join(
        f"{k}{params[k]}" for k in sorted(params)
    ) or "default"
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"scale_{key}.parquet")
    seeds_path = path + ".seeds"
    if not (os.path.exists(path) and os.path.exists(seeds_path)):
        seeds = fx.write_scale_corpus(path, **params)
        with open(seeds_path, "w") as f:
            f.write("\n".join(seeds))
    with open(seeds_path) as f:
        seeds = [l for l in f.read().split("\n") if l]
    return path, seeds
