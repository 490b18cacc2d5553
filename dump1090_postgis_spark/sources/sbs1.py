"""SBS-1 message sources (SURVEY §2.1 SRC-1/SRC-2/SRC-3; reference
adsb_parser.py:94-162).

SRC-1: the reference opens a TCP socket to dump1090's :30003 feed with
5 reconnect attempts / 5 s timeout — in Spark that's the socket
streaming source; reconnection is the restart policy of the streaming
query (the source fails the batch, the query restarts from the
checkpoint).

SRC-2: the file source is Spark's own, with no wrapper here — batch
`spark.read.text(path)` or streaming `spark.readStream.text(dir)` over
a drop directory.

Both yield a one-column (`value`) DataFrame of raw lines which the
caller feeds to operators.parse.parse_sbs1_lines (the SRC-3 gate is
applied there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DUMP1090_DEFAULT_PORT = 30003  # adsb_parser.py:94-145


def socket_stream(
    spark: SparkSession, host: str = "localhost", port: int = DUMP1090_DEFAULT_PORT
) -> DataFrame:
    """SRC-1: streaming DataFrame of raw SBS-1 lines from a dump1090
    TCP feed."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
