"""User-facing facade over a blockstore — the ``ParquetFile`` API surface
(fastparquet api.py:106-1327) re-expressed for the Spark engine, so a
reference user maps one-to-one:

    fastparquet                      parquet_python_spark
    -----------                      --------------------
    ParquetFile(path)                BlockStore(spark, path)
    pf.count()                       bs.count()
    pf.columns / pf.dtypes           bs.columns / bs.dtypes
    pf.head(n)                       bs.head(n)
    pf.iter_row_groups()             bs.iter_row_groups()
    pf.to_pandas(cols, filters)      bs.to_pandas(cols, filters)
    pf.to_pandas -> DataFrame        bs.to_spark(cols, filters)  (lazy)
    statistics(pf)                   bs.statistics()
    sorted_partitioned_columns(pf)   bs.sorted_columns()
    pf.key_value_metadata            bs.key_value_metadata
    write(path, df, append=True)     bs.append(df)
    pf.overwrite / partition ovw     bs.overwrite_partitions(df)
    merge([...])                     BlockStore.merge(spark, paths, out)
    pf.remove_row_groups(rgs)        bs.remove_parts(keys)

Every method delegates to :mod:`parquet_python_spark.operators.pipeline`;
this class adds no logic, only the reference's ergonomic shape.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators import pipeline as pl


class BlockStore:
    """Handle on an encoded blockstore directory (blocks + plan); its
    lineage is a view of the blocks."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # ------------------------------------------------------------ create

    @classmethod
    def write(cls, df: DataFrame, path: str, columns=None,
              target_rows: int = 250_000, compression="UNCOMPRESSED",
              resume: bool = False) -> "BlockStore":
        """Encode ``df`` into a new store (``fastparquet.write`` parity)."""
        pl.run_encode(df, path, columns=columns, target_rows=target_rows,
                      compression=compression, resume=resume)
        return cls(df.sparkSession, path)

    def append(self, df: DataFrame, columns=None, generation=None) -> dict:
        """Append rows (``write(..., append=True)`` parity).  Pass a fresh
        ``generation`` for incremental arrivals (see ``run_encode``)."""
        return pl.run_encode(df, self.path, columns=columns, resume=True,
                             generation=generation)

    # ------------------------------------------------------------ read

    @property
    def blocks(self) -> DataFrame:
        return pl.read_blocks(self.spark, self.path)

    @property
    def lineage(self) -> DataFrame:
        return pl.read_lineage(self.spark, self.path)

    def count(self) -> int:
        """Row count without decoding (``ParquetFile.count`` parity)."""
        return self.summary()["rows"]

    def summary(self) -> dict:
        """Scalar store totals {parts, rows, raw_bytes, enc_bytes}, rolled
        up on the driver from the block files' metadata columns (no Spark
        job)."""
        return pl.store_summary(self.spark, self.path)

    @property
    def columns(self) -> list[str]:
        schema = pl.infer_schema_from_blocks(self.blocks)
        return [f.name for f in schema.fields]

    @property
    def dtypes(self) -> dict[str, str]:
        schema = pl.infer_schema_from_blocks(self.blocks)
        return {f.name: f.dataType.simpleString() for f in schema.fields}

    def to_spark(self, columns=None, filters=None) -> DataFrame:
        """Lazy decoded DataFrame (projection + stats-pruned filters)."""
        return pl.decode_blocks(self.blocks, columns=columns, filters=filters)

    def to_pandas(self, columns=None, filters=None):
        """``ParquetFile.to_pandas`` parity (materializes on the driver)."""
        return self.to_spark(columns, filters).toPandas()

    def create_view(self, name: str, columns=None) -> DataFrame:
        """Register the decoded store as a temp view so it is queryable with
        ``spark.sql`` — Catalyst then prunes/pushes over the decoded plan
        like any other relation.  Returns the registered DataFrame."""
        df = self.to_spark(columns=columns)
        df.createOrReplaceTempView(name)
        return df

    def sql(self, query: str, view: str = "store") -> DataFrame:
        """One-shot SQL over the decoded store: registers ``view`` then runs
        ``query`` (reference users get the DataFrame/SQL surface fastparquet
        never had)."""
        self.create_view(view)
        return self.spark.sql(query)

    def profile(self, columns=None, exact: bool = True) -> DataFrame:
        """ANALYZE-style per-column stats over the decoded store (see
        :mod:`..functions.profile`; ``exact=False`` switches distinct
        counts to HyperLogLog++ for real scale)."""
        from .functions.profile import profile as _profile
        return _profile(self.to_spark(columns=columns), columns, exact)

    def head(self, n: int, columns=None) -> DataFrame:
        return pl.head_rows(self.spark, self.path, n, columns=columns)

    def iter_row_groups(self, columns=None):
        return pl.iter_pages(self.spark, self.path, columns=columns)

    # ------------------------------------------------------------ metadata

    def statistics(self) -> DataFrame:
        return pl.statistics(self.spark, self.path)

    def sorted_columns(self) -> DataFrame:
        return pl.sorted_columns(self.spark, self.path)

    @property
    def key_value_metadata(self) -> dict:
        return pl.read_store_metadata(self.path)

    def update_metadata(self, updates: dict) -> dict:
        return pl.update_store_metadata(self.path, updates)

    # ------------------------------------------------------------ maintain

    def overwrite_partitions(self, df: DataFrame, columns=None) -> dict:
        return pl.overwrite_partitions(df, self.path, columns=columns)

    def remove_parts(self, part_keys: list[int]) -> dict:
        return pl.remove_parts(self.spark, self.path, part_keys)

    def compact(self, max_pages_per_column: int = 8) -> dict:
        return pl.compact_store(self.spark, self.path,
                                max_pages_per_column=max_pages_per_column)

    def sort(self, by: list[str]) -> dict:
        return pl.sort_store(self.spark, self.path, by)

    def remove_repos(self, repos: list[str]) -> dict:
        return pl.remove_repos(self.spark, self.path, repos)

    @classmethod
    def merge(cls, spark: SparkSession, paths: list[str],
              out_path: str) -> "BlockStore":
        pl.merge_stores(spark, paths, out_path)
        return cls(spark, out_path)

    def export_hive(self, out_path: str, partition_cols: list[str],
                    columns=None) -> None:
        pl.export_hive(self.to_spark(columns), out_path, partition_cols)

    def verify(self, source: DataFrame) -> dict:
        dec = self.to_spark()
        return pl.verify_roundtrip(source.select(*dec.columns), dec)

    def __repr__(self) -> str:  # pragma: no cover
        return f"BlockStore({self.path!r})"
