"""F1/F2 — nested-JSON flattening.

Semantics preserved from the reference (cited, not copied):

* ``flatten_json`` — /root/reference/tap_rest_api_msdk/utils.py:7-75
  - nested dict path keys joined with ``_``
  - output key names translated: ``-`` and ``.`` -> ``_``
  - ``except_keys`` matched against the *untranslated* joined path; the
    matched subtree is serialized with ``json.dumps``
  - any list (at any depth) is serialized with ``json.dumps``
  - scalars pass through unchanged
  - an empty nested dict contributes no keys (reference loop never emits)
  - ``store_raw_json_message`` adds ``_sdc_raw_json`` holding the raw object
* ``unnest_dict`` — /root/reference/tap_rest_api_msdk/utils.py:78-96
  - collapse nested dicts keeping leaf keys only; deepest/last wins

Three execution paths:

1. :func:`flatten_record` — pure-Python kernel (driver-side helper and the
   unit of semantic truth; golden-tested against the reference fixture
   /root/reference/tests/test_utils.py:6-21).
2. :func:`make_flatten_udf` — Arrow-vectorized pandas UDF over a raw
   JSON string column; emits canonical flattened JSON (dynamic keys).  This
   is the *only* Python that touches row data, and it is batch-vectorized —
   no per-row Python UDFs anywhere (BASELINE input_hint).
3. :func:`flatten_dataframe` — when the payload schema is *known*, a pure
   native projection (``a.b AS a_b``, ``to_json`` for arrays/excepted
   subtrees; :func:`flatten_sql` builds it as SQL text).  Stays fully
   inside Catalyst/whole-stage codegen: at 100 TB this is the hot path;
   the pandas UDF only runs for schema discovery or truly dynamic keys.
"""

from __future__ import annotations

import json
from typing import Any, Iterable, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_rest_api_msdk_spark.functions.sqlexpr import quote_ident, select_struct

_TRANSLATE = str.maketrans("-.", "__")


def translate_key(key: str) -> str:
    """DB-friendly column name: ``-`` and ``.`` -> ``_`` (utils.py:32-43)."""
    return key.translate(_TRANSLATE)


def flatten_record(
    obj: dict,
    except_keys: Optional[list] = None,
    store_raw_json_message: bool = False,
) -> dict:
    """Flatten one record dict exactly like the reference F1 operator."""
    except_set = frozenset(except_keys or ())
    out: dict = {}

    def walk(node: Any, prefix: str) -> None:
        if type(node) is dict:
            for key, value in node.items():
                joined = prefix + key
                if joined in except_set:
                    # match on UNtranslated path, translate only the output key
                    out[translate_key(joined)] = json.dumps(value)
                else:
                    walk(value, joined + "_")
        elif type(node) is list:
            out[translate_key(prefix[:-1])] = json.dumps(node)
        else:
            out[translate_key(prefix[:-1])] = node

    walk(obj, "")
    if store_raw_json_message:
        out["_sdc_raw_json"] = obj
    return out


def unnest_dict(d: dict) -> dict:
    """Collapse nested dicts keeping leaf keys; last writer wins (F2)."""
    result: dict = {}
    for key, value in d.items():
        if isinstance(value, dict):
            result.update(unnest_dict(value))
        else:
            result[key] = value
    return result


# ---------------------------------------------------------------------------
# Path 2: dynamic-schema vectorized kernel (Arrow batches)
# ---------------------------------------------------------------------------

def flatten_json_string(
    payload: Optional[str],
    except_keys: Optional[list] = None,
    store_raw_json_message: bool = False,
) -> Optional[str]:
    """Flatten a raw JSON string -> canonical flattened JSON string.

    Keys are emitted in reference insertion order; ``_sdc_raw_json`` holds
    the raw object (utils.py:72-74). Non-dict top level raises ValueError,
    mirroring streams.py:576-586 / tap.py:622-625.
    """
    if payload is None:
        return None
    obj = json.loads(payload)
    if type(obj) is not dict:
        raise ValueError("Input must be a dict object.")
    return json.dumps(flatten_record(obj, except_keys, store_raw_json_message))


def make_flatten_udf(
    except_keys: Optional[list] = None,
    store_raw_json_message: bool = False,
):
    """Return an Arrow-vectorized pandas UDF: json string -> flattened json.

    One Python round-trip per Arrow batch (not per row). Downstream, parse
    the result natively with ``from_json(col, inferred_schema)``.
    """
    from pyspark.sql.functions import pandas_udf

    keys = list(except_keys or ())
    raw = bool(store_raw_json_message)

    @pandas_udf(T.StringType())
    def _flatten(s: pd.Series) -> pd.Series:
        return s.map(lambda p: flatten_json_string(p, keys, raw))

    return _flatten


# ---------------------------------------------------------------------------
# Path 3: known-schema native projection (zero Python on the hot path)
# ---------------------------------------------------------------------------

def flatten_sql(
    schema: T.StructType,
    except_keys: Optional[Iterable[str]] = None,
    prefix: str = "",
    col_prefix: str = "",
) -> list[str]:
    """The native flatten projection for a *known* struct schema, as SQL
    expressions ``expr AS `name``` over the struct column ``col_prefix``
    (a SQL identifier; empty = top-level columns).

    Mirrors F1 semantics on Spark types: StructType ~ dict (recurse),
    ArrayType ~ list (``to_json``), except-path subtrees ``to_json``.
    Notes:
    * JSON string columns produced here use Spark's compact ``to_json``
      formatting; the pandas kernel uses Python ``json.dumps`` (which
      inserts spaces). Tests compare them JSON-parsed, not byte-equal.
    * Colliding flattened names (``{"a": {"b": 1}, "a_b": 2}`` — or via
      ``-``/``.`` translation) keep the LAST occurrence in field order,
      exactly like the reference's dict overwrite (utils.py:55-69).
    """
    except_set = frozenset(except_keys or ())
    by_name: dict[str, str] = {}

    def walk(struct: T.StructType, joined: str, path: str) -> None:
        for field in struct.fields:
            jpath = joined + field.name
            cpath = (path + "." if path else "") + quote_ident(field.name)
            out_name = translate_key(jpath)
            if isinstance(field.dataType, T.StructType) and jpath not in except_set:
                walk(field.dataType, jpath + "_", cpath)
                continue
            if jpath in except_set or isinstance(field.dataType, (T.ArrayType, T.MapType)):
                cpath = f"to_json({cpath})"
            by_name[out_name] = f"{cpath} AS {quote_ident(out_name)}"

    walk(schema, prefix, col_prefix)
    return list(by_name.values())


def flatten_dataframe(
    df: DataFrame,
    payload_col: str,
    payload_schema: T.StructType,
    except_keys: Optional[Iterable[str]] = None,
    keep_cols: Optional[list[str]] = None,
    store_raw_json_message: bool = False,
) -> DataFrame:
    """Flatten a JSON-string OR pre-shredded struct column, fully natively.

    JSON string: ``from_json`` -> struct -> generated projection (Catalyst
    prunes unused nested fields from the parse). Struct (the shredded
    columnar WAL format): the projection reads the struct directly — no
    parse at all, and parquet only materializes the referenced subfields.
    Either way the whole stage stays in codegen, and the projection is one
    SQL expression, so planning cost does not grow with the field count.
    """
    keep = keep_cols or [c for c in df.columns if c != payload_col]
    payload = quote_ident(payload_col)
    if isinstance(df.schema[payload_col].dataType, T.StructType):
        parsed, rec, raw = df, payload, f"to_json({payload})"
    else:
        parsed = df.withColumn("__rec", F.from_json(F.col(payload_col), payload_schema))
        rec, raw = "`__rec`", payload
    fields = [quote_ident(c) for c in keep] + flatten_sql(payload_schema, except_keys, col_prefix=rec)
    if store_raw_json_message:
        fields.append(f"{raw} AS `_sdc_raw_json`")
    return select_struct(parsed, fields)
