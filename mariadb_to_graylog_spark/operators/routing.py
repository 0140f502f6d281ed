"""Sink routing and fan-out (SURVEY.md S1-S4, M4).

The reference tries UDP, then TCP, then HTTP, each wrapped in a bare
``except`` (mariadb-log-consumer.py:565-591).  In a deterministic batch
world the only *predictable* failure is the US-ASCII encode raise
(``bytearray(msg, 'us-ascii')``, :567-583), which gates the UDP and TCP
sends; HTTP posts the unicode string as-is.  The failover chain therefore
collapses to a pure routing expression:

    udp   if udp configured  and ascii(msg)
    tcp   elif tcp configured and ascii(msg)
    http  elif http configured
    dropped otherwise            (the reference silently loses the message)

Fan-out is one pass over a routed DataFrame: ``write.partitionBy('sink')``
writes all per-sink tables in a single job -- no per-sink rescan of the
fact table.  At cluster scale each task streams its rows into per-sink
files directly; there is no extra shuffle unless ``repartition_output`` is
requested for file sizing.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mariadb_to_graylog_spark.functions.gelf import is_ascii


@dataclass(frozen=True)
class RouterConfig:
    """Which sinks are configured (mirrors --graylog-port-udp/tcp/http)."""

    udp: bool = True
    tcp: bool = True
    http: bool = True


def sink_expr(gelf_json: Column, cfg: RouterConfig = RouterConfig()) -> Column:
    ascii_ok = is_ascii(gelf_json)
    expr = F.when(F.lit(False), F.lit(""))  # seed for the when-chain
    if cfg.udp:
        expr = expr.when(ascii_ok, F.lit("udp"))
    if cfg.tcp:
        expr = expr.when(ascii_ok, F.lit("tcp"))
    if cfg.http:
        expr = expr.otherwise(F.lit("http"))
        return expr
    return expr.otherwise(F.lit("dropped"))


def route(
    df: DataFrame, gelf_col: str = "gelf_json", cfg: RouterConfig = RouterConfig()
) -> DataFrame:
    return df.withColumn("sink", sink_expr(F.col(gelf_col), cfg))


def write_fanout(
    routed: DataFrame,
    base_path: str,
    mode: str = "append",
    repartition_output: int | None = None,
) -> None:
    """One-pass multi-sink write: parquet partitioned by ``sink``.

    Each partition directory (``sink=udp`` ...) is the moral equivalent of
    one Graylog endpoint's Iceberg table.  ``dropped`` rows are excluded --
    the reference loses them silently.  The sink tables, and so the
    ``combined_counts`` (A2) the job CLI computes over them, hold none;
    their number is the ``rows_dropped`` observation the CLI prints.
    """
    df = routed.filter(F.col("sink") != "dropped")
    if repartition_output:
        df = df.repartition(repartition_output, "sink", "conv_id")
    df.write.mode(mode).partitionBy("sink").parquet(base_path)
