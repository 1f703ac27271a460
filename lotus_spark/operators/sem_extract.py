"""sem_extract — structured field extraction.

Semantics from the reference (``lotus/sem_ops/sem_extract.py:15-108`` core,
``:111-256`` accessor): given ``input_cols`` and ``output_cols`` (name →
optional description), one JSON-mode LLM call per row; one new string column
per requested field, plus ``<field>_quote`` columns when ``extract_quotes``.
JSON parse falls back to ``{}`` and coerces values to str
(``postprocessors.py:149-179``).

Spark design: raw JSON answer from an Arrow-batched pandas_udf, parsed in the
same batch (the reference parses client-side too); output is a struct column
expanded with ``select("*", "parsed.*")``-style projection.
"""

from __future__ import annotations

from typing import Any, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from lotus_spark.models.lm import call_distinct
from lotus_spark.operators import prompts
from lotus_spark.operators.postprocessors import parse_json_fields
from lotus_spark.operators.sem_map import _resolve_lm
from lotus_spark.serialization import docs_from_pdf
from lotus_spark.session import settings


def sem_extract(
    df: DataFrame,
    input_cols: list[str],
    output_cols: dict[str, Optional[str]],
    lm: Any = None,
    extract_quotes: bool = False,
    return_raw_outputs: bool = False,
    system_prompt: Optional[str] = None,
    **model_kwargs: Any,
) -> DataFrame:
    model = _resolve_lm(lm)
    missing = [c for c in input_cols if c not in df.columns]
    if missing:
        raise ValueError(f"input_cols not in DataFrame: {missing}")
    fields = list(output_cols.keys())
    if extract_quotes:
        fields = fields + [f"{f}_quote" for f in output_cols]
    fmt = settings.serialization_format

    out_schema = StructType(
        [StructField(f, StringType()) for f in fields]
        + [StructField("__raw", StringType())]
    )

    @F.pandas_udf(out_schema)
    def _extract_udf(batch: pd.DataFrame) -> pd.DataFrame:
        docs = docs_from_pdf(batch, input_cols, fmt)
        msgs = [
            prompts.extract_messages(d, output_cols, extract_quotes, system_prompt)
            for d in docs
        ]
        raw = call_distinct(model, msgs, **model_kwargs).outputs
        parsed = [parse_json_fields(r, fields) for r in raw]
        data = {f: [p[f] for p in parsed] for f in fields}
        data["__raw"] = raw
        return pd.DataFrame(data)

    from lotus_spark.partitioning import ensure_parallelism

    struct_col = F.struct(*[F.col(f"`{c}`") for c in input_cols])
    out = ensure_parallelism(df).withColumn("__sem_extract_out", _extract_udf(struct_col))
    for f in fields:
        out = out.withColumn(f, F.col(f"__sem_extract_out.`{f}`"))
    if return_raw_outputs:
        out = out.withColumn("raw_output", F.col("__sem_extract_out.__raw"))
    return out.drop("__sem_extract_out")
