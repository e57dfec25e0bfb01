"""In-repo table catalog.

Replaces the reference's AWS Glue Data Catalog round-trips
(reference src/gg_logs_to_parquet.py:44-53 ``get_table_location``,
dev/_get_schema_from_glue.py:108-137 PK parameter read/write,
src/apply_to_domains.py:147-166 schema publish): a logical table name
resolves to physical location + format + primary key + partition spec,
with no network calls in the planning path.

On a real deployment this maps 1:1 onto a Hive/Glue/Unity metastore entry;
the engine only ever asks the catalog for (path, format, pk, partitions),
so swapping the backend is a single-class change.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field, asdict

from pyspark.sql import DataFrame, SparkSession


@dataclass
class TableSpec:
    """One logical table. ``pk`` mirrors the Glue ``PK`` table parameter
    (reference dev/_get_schema_from_glue.py:114-137)."""

    name: str
    path: str
    format: str = "parquet"  # parquet | json | csv | delta
    pk: list[str] = field(default_factory=list)
    partition_by: list[str] = field(default_factory=list)
    options: dict[str, str] = field(default_factory=dict)
    # Published result schema (StructType.json()), the stand-in for the
    # reference's Glue schema publish (S9, src/apply_to_domains.py:147-166).
    schema_json: str | None = None


class Catalog:
    """name -> TableSpec registry with read/write helpers."""

    def __init__(self, tables: dict[str, TableSpec] | None = None):
        self._tables: dict[str, TableSpec] = dict(tables or {})

    # -- registry ---------------------------------------------------------
    def register(self, spec: TableSpec) -> None:
        self._tables[spec.name.lower()] = spec

    def get(self, name: str) -> TableSpec:
        try:
            return self._tables[name.lower()]
        except KeyError:
            raise KeyError(f"table not in catalog: {name!r}") from None

    def __contains__(self, name: str) -> bool:
        return name.lower() in self._tables

    def tables(self) -> list[str]:
        return sorted(self._tables)

    # -- IO ----------------------------------------------------------------
    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """A parquet table with a published schema is read with it: no
        schema-inference job (Spark's ``load`` job that opens a footer),
        and the columns carry the published types (partition columns
        too, instead of types guessed from directory names). Without a
        published schema, or in another format, Spark infers it."""
        spec = self.get(name)
        reader = spark.read.options(**spec.options)
        if spec.format == "csv":
            return reader.option("header", "true").csv(spec.path)
        if spec.format == "json":
            return reader.json(spec.path)
        schema = self.published_schema(name)
        if spec.format == "parquet" and schema is not None:
            reader = reader.schema(schema)
        return reader.format(spec.format).load(spec.path)

    def write(self, df: DataFrame, name: str, mode: str = "overwrite") -> None:
        """Write ``df`` as the table. An overwrite publishes ``df.schema``;
        any other mode clears the published schema, since the files may
        then hold more than one, and the next read infers."""
        spec = self.get(name)
        writer = df.write.format(spec.format).mode(mode).options(**spec.options)
        if spec.partition_by:
            writer = writer.partitionBy(*spec.partition_by)
        writer.save(spec.path)
        spec.schema_json = df.schema.json() if mode == "overwrite" else None

    # -- schema publish (S9) ------------------------------------------------
    def publish_schema(self, name: str, schema) -> None:
        """Record a table's result schema in the catalog (the reference
        pushes this to Glue with a struct->string downcast workaround; no
        downcast needed here — StructType serialises losslessly)."""
        self.get(name).schema_json = schema.json()

    def published_schema(self, name: str):
        from pyspark.sql import types as T

        raw = self.get(name).schema_json
        return None if raw is None else T.StructType.fromJson(json.loads(raw))

    # -- persistence (JSON file stands in for the metastore) ---------------
    def save(self, path: str) -> None:
        with open(path, "w") as handle:
            json.dump({k: asdict(v) for k, v in self._tables.items()}, handle, indent=2)

    @classmethod
    def load(cls, path: str) -> "Catalog":
        with open(path) as handle:
            raw = json.load(handle)
        return cls({k: TableSpec(**v) for k, v in raw.items()})


def testdata_catalog(sf_dir: str) -> Catalog:
    """Catalog over the driver-generated synthetic tables in ``sf_dir``."""
    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    cat = Catalog()
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        pk = {
            "customer": ["c_custkey"], "orders": ["o_orderkey"],
            "part": ["p_partkey"], "supplier": ["s_suppkey"],
            "nation": ["n_nationkey"], "region": ["r_regionkey"],
            "events": ["event_id"], "documents": ["doc_id"],
            "embeddings": ["vec_id"],
        }.get(name, [])
        cat.register(TableSpec(name=name, path=path, format="parquet", pk=pk))
    return cat
