"""F7/F4/F10 source-side helpers: record extraction, payload-schema
inference, and incremental search-query rendering.

* :func:`extract_records` — the ``parse_response`` analog
  (/root/reference/tap_rest_api_msdk/streams.py:576-586): a jsonpath
  ``records_path`` selects the record array inside a response envelope.
  The practically-used subset (``$[*]``, ``$.data[*]``, ``$.a.b[*]``,
  ``$.a``) maps to native ``from_json`` + ``explode`` — filter-style
  jsonpath (README.md:379-385) is out of scope for the native path and
  documented as requiring the pandas-UDF fallback.
* :func:`infer_payload_struct` — samples N+1 payloads (``limit`` pushdown,
  mirroring the single discovery page, tap.py:608-618) and returns the
  NESTED spark schema the native flatten projection consumes. The sample
  goes back to the JVM as an Arrow frame and is inferred by the same JSON
  reader as :func:`infer_json_schema_full` (the ``schema_evolution="full"``
  whole-batch path): JVM-only jobs, no pickled Python-RDD stage.
* :func:`render_search_query` — F10's ``string.Template`` substitution of
  ``$last_run_date`` into a server-side search expression
  (streams.py:378-387), including the request-body variant that parses the
  substituted text as JSON (streams.py:380-383).
"""

from __future__ import annotations

import json
import re
import shutil
from string import Template
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_rest_api_msdk_spark.session import arrow_frame

_ARRAY_PATH = re.compile(r"^\$?\.?(?P<path>[A-Za-z0-9_.]*?)\.?\[\*\]$")
_PAYLOADS = T.StructType([T.StructField("value", T.StringType(), True)])


def parse_records_path(records_path: str) -> tuple[list[str], bool]:
    """-> (field path parts, is_array). ``"$[*]"`` -> ([], True);
    ``"$.data[*]"`` -> (["data"], True); ``"$.item"`` -> (["item"], False).
    """
    m = _ARRAY_PATH.match(records_path.strip())
    if m:
        path = m.group("path")
        return ([p for p in path.split(".") if p], True)
    path = records_path.strip().lstrip("$").strip(".")
    return ([p for p in path.split(".") if p], False)


def extract_records(
    df: DataFrame,
    payload_col: str,
    records_path: str,
    envelope_schema: T.StructType,
    keep_cols: Optional[list] = None,
    record_col: str = "record",
) -> DataFrame:
    """Explode the record array addressed by ``records_path`` out of a raw
    JSON envelope column — one output row per record, fully native."""
    parts, is_array = parse_records_path(records_path)
    keep = [F.col(c) for c in (keep_cols or [c for c in df.columns if c != payload_col])]
    parsed = df.withColumn("__env", F.from_json(F.col(payload_col), envelope_schema))
    node = F.col("__env") if not parts else F.col("__env." + ".".join(parts))
    if is_array:
        out = parsed.select(*keep, F.explode(node).alias(record_col))
    else:
        out = parsed.select(*keep, node.alias(record_col))
    return out


def records_path_is_native(records_path: str) -> bool:
    """True when the path fits the native ``from_json`` + ``explode`` plan
    (dotted fields, optionally ``[*]``-terminated). Predicates, indexes,
    wildcards mid-path, and the split extension need the jsonpath kernel."""
    s = records_path.strip()
    return bool(_ARRAY_PATH.match(s)) or bool(re.match(r"^\$?\.?[A-Za-z0-9_.]+$", s))


def extract_records_jsonpath(
    df: DataFrame,
    payload_col: str,
    records_path: str,
    keep_cols: Optional[list] = None,
    record_col: str = "record",
) -> DataFrame:
    """Full-grammar ``records_path`` extraction (filter predicates, indexes,
    the split extension — README.md:379-385) via an Arrow-batched
    ``mapInPandas`` kernel over plans/jsonpath.py.

    One output row per jsonpath MATCH (``yield from extract_jsonpath``
    parity, streams.py:576-586), the record serialized as a canonical JSON
    string — downstream infers/parses with the same machinery as any other
    payload column. The path is parsed DRIVER-side first, so unsupported
    syntax fails at plan time, not per-executor.

    This is the slow path by design: filter-jsonpath semantics can't reach
    the native projection. At scale it stays Arrow-batched and
    embarrassingly parallel; use the native :func:`extract_records` for
    dotted/``[*]`` paths (see :func:`extract_records_auto`).
    """
    import json as _json

    import pandas as pd

    from tap_rest_api_msdk_spark.plans.jsonpath import find_all, parse

    parse(records_path)  # validate up front (ValueError on bad syntax)
    keep = keep_cols or [c for c in df.columns if c != payload_col]
    in_df = df.select(*keep, payload_col)
    out_fields = [f for f in in_df.schema.fields if f.name != payload_col]
    out_schema = T.StructType(out_fields + [T.StructField(record_col, T.StringType(), True)])
    out_cols = [f.name for f in out_schema.fields]

    def kernel(batches):
        for pdf in batches:
            rows = []
            for d in pdf.to_dict("records"):
                payload = d.pop(payload_col)
                try:
                    obj = _json.loads(payload) if payload is not None else None
                except ValueError:
                    obj = None
                if obj is None:
                    continue
                for match in find_all(records_path, obj):
                    rows.append(
                        {**d, record_col: _json.dumps(match, separators=(",", ":"), sort_keys=True)}
                    )
            yield pd.DataFrame(rows, columns=out_cols)

    return in_df.mapInPandas(kernel, out_schema)


def extract_records_auto(
    df: DataFrame,
    payload_col: str,
    records_path: str,
    envelope_schema: Optional[T.StructType] = None,
    keep_cols: Optional[list] = None,
    record_col: str = "record",
) -> DataFrame:
    """Dispatch: native ``from_json``+``explode`` plan when the path allows
    (JVM-side, zero Python), jsonpath kernel otherwise."""
    if envelope_schema is not None and records_path_is_native(records_path):
        return extract_records(df, payload_col, records_path, envelope_schema, keep_cols, record_col)
    return extract_records_jsonpath(df, payload_col, records_path, keep_cols, record_col)


def infer_payload_struct(
    df: DataFrame, payload_col: str, inference_records: int = 50
) -> T.StructType:
    """Nested StructType of a JSON payload column from an N+1 sample.

    The sample is collected (``limit`` pushdown) and handed back to the
    JVM as an Arrow frame, where the JSON reader of
    :func:`infer_json_schema_full` infers it: the sample and the
    whole-batch paths share one reader, and no row is pickled into a
    Python RDD. Nested struct/array shapes survive (the flat
    genson-parity path in functions/infer.py is for the FLATTENED record
    schema / catalog). Preserves the reference's N+1 off-by-one
    (tap.py:636-637).
    """
    rows = df.select(F.col(payload_col).cast("string")).limit(inference_records + 1).collect()
    sample = [(r[0],) for r in rows if r[0] is not None]
    if not sample:
        return T.StructType([])
    schema = _json_schema_jvm(arrow_frame(df.sparkSession, sample, _PAYLOADS))
    # the JSON reader appends _corrupt_record when the sample holds bad
    # rows; that's a parser artifact, not a payload field
    return T.StructType([f for f in schema.fields if f.name != "_corrupt_record"])


def _json_schema_jvm(payloads: DataFrame) -> T.StructType:
    """Schema the Scala ``DataFrameReader.json(Dataset[String])``
    overload infers from a ``value: string`` frame, via py4j: plan-only,
    no row crosses into Python."""
    spark = payloads.sparkSession
    jds = getattr(payloads._jdf, "as")(spark._jvm.org.apache.spark.sql.Encoders.STRING())
    jschema = spark._jsparkSession.read().json(jds).schema()
    return T._parse_datatype_json_string(jschema.json())


def infer_json_schema_full(
    payloads: DataFrame,
    spill_dir: str,
    attempts: Sequence[str] = ("jvm", "rdd", "spill"),
) -> T.StructType:
    """Whole-batch JSON payload schema inference over a one-column
    ``value: string`` frame, trying in order:

    - ``jvm``: :func:`_json_schema_jvm` (the fast path on classic
      sessions; :func:`infer_payload_struct` uses it too).
    - ``rdd``: ``spark.read.json(payloads.rdd.map(...))`` — classic
      sessions where the JVM handle is unavailable.
    - ``spill``: write the payloads as text under ``spill_dir`` and
      ``read.json`` the files — the only API shape Spark Connect supports
      (Connect has neither ``_jvm`` nor RDDs). ``spill_dir`` should sit on
      the lake table's storage, which is shared on a real cluster by
      construction; it is removed afterwards.

    ``attempts`` is exposed so tests can pin a specific path.
    """
    spark_ = payloads.sparkSession
    # null payloads carry no schema, and the RDD/JVM json readers would
    # surface them as a _corrupt_record column — drop them for every path
    payloads = payloads.filter(F.col("value").isNotNull())
    last_err: Exception | None = None
    for attempt in attempts:
        try:
            if attempt == "jvm":
                return _json_schema_jvm(payloads)
            if attempt == "rdd":
                return spark_.read.json(payloads.rdd.map(lambda r: r[0])).schema
            if attempt == "spill":
                payloads.write.mode("overwrite").text(spill_dir)
                try:
                    return spark_.read.json(spill_dir).schema
                finally:
                    shutil.rmtree(spill_dir, ignore_errors=True)
        except Exception as e:  # try the next, less-capable API shape
            last_err = e
    raise RuntimeError(f"all schema-inference paths failed ({attempts})") from last_err


def render_search_query(
    source_search_query: str,
    last_run_date: Any,
    as_request_body: bool = False,
) -> Any:
    """Substitute ``$last_run_date`` (streams.py:378-387).

    ``as_request_body=True`` parses the result as JSON — the
    ``use_request_body_not_params`` variant (streams.py:380-383); invalid
    JSON raises ``ValueError`` like ``json.loads`` would in the reference.
    """
    rendered = Template(source_search_query).safe_substitute(
        last_run_date=last_run_date
    )
    if as_request_body:
        return json.loads(rendered)
    return rendered
