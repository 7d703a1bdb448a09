"""Pipeline configuration validation — fail fast at the driver.

Reproduces the reference's register-time validation semantics
(A23/A24 in SURVEY.md §2):

* ``query`` and ``query_template`` are mutually exclusive, one required
  (elasticsearch.rb:442-454)
* ES|QL mode rejects DSL-only params (elasticsearch.rb:190-192)
* placeholder grammar + placeholder<->param matching
  (elasticsearch.rb:462-481) — delegated to plans.esql.validate_params
* connectivity/capability checks (elasticsearch.rb:404-421) become
  existence + schema checks of the input and lookup tables before any
  job is submitted.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from logstash_filter_elasticsearch_spark.plans.esql import validate_params
from logstash_filter_elasticsearch_spark.sources.tables import parquet_schema

DSL_ONLY_PARAMS = ("index", "query_template", "sort", "fields", "docinfo_fields",
                   "result_size", "aggregation_fields", "enable_sort")


class ConfigError(ValueError):
    pass


@dataclass
class QueryConfig:
    """Mirror of the plugin's query-mode options (elasticsearch.rb:26-161)."""

    query_type: str = "dsl"  # "dsl" | "esql"
    query: str | None = None
    query_template: str | None = None
    query_params: dict = field(default_factory=dict)
    dsl_params: dict = field(default_factory=dict)

    def validate(self) -> None:
        if self.query_type not in ("dsl", "esql"):
            raise ConfigError(f"query_type must be dsl|esql, got {self.query_type!r}")
        if self.query_type == "dsl":
            # mutual exclusion (elasticsearch.rb:442-454)
            if self.query and self.query_template:
                raise ConfigError(
                    "Both query and query_template are set - only one is allowed"
                )
            if not self.query and not self.query_template:
                raise ConfigError("Either query or query_template must be set")
            if self.query_template is not None and not str(self.query_template).strip():
                raise ConfigError("query_template is empty")  # elasticsearch.rb:432-433
            if self.query_params:
                raise ConfigError("query_params is an ES|QL-only option")
        else:
            if not self.query:
                raise ConfigError("ES|QL mode requires query")
            bad = [k for k, v in self.dsl_params.items() if k in DSL_ONLY_PARAMS and v]
            if bad:
                # elasticsearch.rb:190-192
                raise ConfigError(
                    f"Configured DSL-only params are not allowed with ES|QL: {sorted(bad)}"
                )
            validate_params(self.query, self.query_params)


def check_tables(spark: SparkSession, paths: dict[str, str],
                 required_cols: dict[str, list[str]] | None = None) -> None:
    """Driver-side 'ping' (elasticsearch.rb:404-410): every table must
    exist and expose the required columns before the job submits."""
    required_cols = required_cols or {}
    for name, path in paths.items():
        try:
            schema = parquet_schema(spark, path)
        except Exception as e:  # noqa: BLE001
            raise ConfigError(f"table {name!r} unreadable at {path}: {e}") from e
        missing = set(required_cols.get(name, [])) - {f.name for f in schema.fields}
        if missing:
            raise ConfigError(f"table {name!r} missing columns: {sorted(missing)}")
