"""User-defined-function registration surface (SURVEY §2.4 gap category:
the reference has no UDF/UDAF/UDTF machinery; this module demonstrates all
three Spark registration paths with oracle-reproducible semantics):

- ``chunk_documents``  — Python UDTF (table function, Spark 4 ``@udtf``):
  one input document row -> N context-window chunk rows. UDTFs are the
  escape hatch for row-to-many-rows logic with per-row Python state;
  NOTE the same semantics are expressible with built-in ``slice`` +
  ``posexplode`` (that formulation stays JVM-side and is what a 100 TB run
  should use — the UDTF exists to exercise the registration surface, and
  its docstring says so).
- ``micro_sum_udaf``   — Arrow-batched pandas grouped-aggregate UDAF: exact
  per-group sums carried in integer micro-units so pandas float math can't
  drift from the decimal oracle.
- ``grouped_demean`` (operators/relational.py) — applyInPandas, the third
  surface, already covered by op-apply-in-pandas.

Python rows cross the JVM boundary in both directions here — the slow
path by design; every hot-path operator in this repo stays on built-in
functions.
"""

from __future__ import annotations

# module level, not function-local: `from __future__ import annotations`
# turns the pandas UDFs' type hints into strings, which Spark resolves
# against this module's globals to infer the UDF kind
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_documents(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", chunk_size: int = 50) -> DataFrame:
    """Split each document into fixed-size token chunks (the standard
    context-window preprocessing step for LLM training data).

    Returns (doc_id, chunk_idx, n_chunk_tokens, chunk_text) where tokens
    are the whitespace tokens of lower(trim(text)) (same tokenization as
    operators/text.py) and chunk i covers tokens [i*size, (i+1)*size).
    Empty documents yield no rows.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType=("doc_id bigint, chunk_idx int, n_chunk_tokens int, "
                      "chunk_text string"))
    class ChunkDoc:
        def eval(self, doc_id: int, text: str):  # noqa: D102
            import re
            # ASCII \s, not Python's default unicode \s: tokenization must
            # match operators/text.py's Java-regex semantics (and the
            # DuckDB/RE2 oracle), where U+00A0 etc. are NOT separators
            # no .strip(): Python's strip eats unicode whitespace the SQL
            # trim would keep; the empty-token filter handles edges instead
            toks = [t for t in re.split(r"\s+", (text or "").lower(),
                                        flags=re.ASCII) if t]
            for i in range(0, len(toks), chunk_size):
                part = toks[i:i + chunk_size]
                yield doc_id, i // chunk_size, len(part), " ".join(part)

    # lateral UDTF call: one scan, chunk rows emitted per input partition
    df.select(F.col(id_col), F.col(text_col)).createOrReplaceTempView("_udtf_docs")
    df.sparkSession.udtf.register("chunk_doc", ChunkDoc)
    return df.sparkSession.sql(
        f"SELECT c.* FROM _udtf_docs, LATERAL chunk_doc({id_col}, {text_col}) c")


def micro_sum_udaf(df: DataFrame, key: str = "event_type",
                   value_col: str = "value") -> DataFrame:
    """Exact per-group value sums through a pandas grouped-aggregate UDAF.

    The accumulator is an integer count of micro-units (round(v * 1e6)),
    summed exactly, divided back at the edge — so the Arrow-batched pandas
    path produces the same doubles as the decimal-sum oracle regardless of
    batch/partition order. Returns (key, n_events, sum_value).
    """
    # Series -> scalar type hints make both grouped-aggregate UDFs
    @F.pandas_udf("long")
    def micro_sum(v: pd.Series) -> int:
        return int(v.mul(1_000_000).round().astype("int64").sum())

    # Spark refuses to mix grouped-aggregate pandas UDFs with JVM
    # aggregates in one agg ([INVALID_PANDAS_UDF_PLACEMENT]) — the count
    # rides the same Arrow batch instead
    @F.pandas_udf("long")
    def micro_count(v: pd.Series) -> int:
        return len(v)

    agg = df.groupBy(key).agg(
        micro_count(F.col(value_col)).alias("n_events"),
        micro_sum(F.col(value_col)).alias("_micro"))
    return agg.select(key, "n_events",
                      (F.col("_micro") / 1_000_000).alias("sum_value"))
