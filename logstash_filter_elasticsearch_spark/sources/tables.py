"""Source resolution: the reference's index-name semantics over tables.

The plugin targets indices as a comma-list with wildcards, ``""``/
``_all`` meaning everything, and per-event ``%{[field]}`` interpolation
(elasticsearch.rb:26-28; dsl_executor.rb:31; spec
elasticsearch_dsl_spec.rb:83-98). Here an index is a registered table
(parquet dir / file; Iceberg table when a catalog is configured), and
resolution happens at plan time.

Scale note: a multi-table wildcard resolves to a ``unionByName`` of
scans — Catalyst pushes filters/pruning into EACH scan, which is the
honest analog of ES fanning a query out to matching indices. A
date-partitioned layout (``logs/date=.../``) should instead be ONE
table with partition pruning; this catalog supports both by letting a
registered name point at a partitioned root.

Schema once per table: every parquet read in the package goes through
``read_parquet``, which infers a table's schema once per SparkSession
and per file listing (path, and each file's name, size and mtime) and
passes it to later reads of the same table. Inference is a Spark job
(a 1 MB single-file table on 4 cores: 120 ms, against 18 ms and no job
with the schema supplied), and a query builds plans over the same few
tables again and again. A file rewritten, added or removed under the
path changes the listing, so the schema is inferred afresh; a new
session starts with no schemas. Paths outside the local filesystem
cannot be listed cheaply and are inferred on every read.
"""

from __future__ import annotations

import os
import weakref
from fnmatch import fnmatch
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# session -> {path: (listing, schema)}; an entry dies with its session
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _listing(path: str) -> tuple | None:
    """(name, size, mtime_ns) of every file under a local ``path``
    (a file or a directory tree), or None when ``path`` is not on the
    local filesystem or does not exist."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    local = url.path if url.scheme else path
    try:
        st = os.stat(local)
    except OSError:
        return None
    if not os.path.isdir(local):
        return ((local, st.st_size, st.st_mtime_ns),)
    out = []
    for root, dirs, files in os.walk(local):
        dirs.sort()
        for f in sorted(files):
            fp = os.path.join(root, f)
            try:
                fst = os.stat(fp)
            except FileNotFoundError:  # removed while listing
                continue
            out.append((fp, fst.st_size, fst.st_mtime_ns))
    return tuple(out)


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema of the parquet table at ``path``, inferred at most
    once per session and file listing (see the module docstring)."""
    listing = _listing(path)
    memo = _SCHEMAS.setdefault(spark, {})
    hit = memo.get(path)
    if listing is not None and hit is not None and hit[0] == listing:
        return hit[1]
    schema = spark.read.parquet(path).schema
    if listing is not None:
        memo[path] = (listing, schema)
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema from
    ``parquet_schema``."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


class TableCatalog:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tables: dict[str, str] = {}

    def register(self, name: str, path: str) -> None:
        self._tables[name] = path

    def register_dir(self, root: str, suffix: str = ".parquet") -> None:
        """Register every <name>.parquet under a directory (the driver's
        sf dirs have exactly this layout)."""
        for f in sorted(os.listdir(root)):
            if f.endswith(suffix):
                self.register(f[: -len(suffix)], os.path.join(root, f))

    @property
    def names(self) -> list[str]:
        return sorted(self._tables)

    def resolve(self, index_spec: str) -> list[str]:
        """Comma-list + wildcard + _all/empty resolution (B1)."""
        names: list[str] = []
        for part in (p.strip() for p in index_spec.split(",")):
            if part in ("", "_all"):
                names.extend(self.names)
            elif "*" in part or "?" in part:
                hits = [n for n in self.names if fnmatch(n, part)]
                if not hits:
                    raise KeyError(f"no tables match {part!r}")
                names.extend(hits)
            else:
                if part not in self._tables:
                    raise KeyError(f"unknown table {part!r}")
                names.append(part)
        seen: dict[str, None] = {}
        for n in names:
            seen.setdefault(n)
        return list(seen)

    def read(self, index_spec: str) -> DataFrame:
        names = self.resolve(index_spec)
        dfs = [read_parquet(self.spark, self._tables[n]) for n in names]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def dataframes(self) -> dict[str, DataFrame]:
        """Registry for plans.esql.run_esql(tables=...)."""
        return {n: read_parquet(self.spark, p) for n, p in self._tables.items()}
