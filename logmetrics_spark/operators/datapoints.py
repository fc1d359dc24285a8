"""Datapoint contract: matched+transformed lines -> long-format metric rows.

The rows ``datapool.go:59-215`` builds (tag extraction, value scaling,
cross-group arithmetic, key fan-out). The engine computes them in one
place, ``fused.make_datapoint_frame_fn``, as a :class:`Datapoints`: one
table of per-key columns and one key code per datapoint, so each key's
strings exist once per Arrow batch. This module holds that container
and its row form, ``DATAPOINT_SCHEMA`` (what the live stream reads).

Output schema (one row per dataPoint, ``datapool.go:14-19``):

- ``key_id``      string   — full series identity (name template + tags)
- ``group``       string   — log group name
- ``metric_type`` string   — meter | histogram | counter
- ``key_prefix``, ``key_suffix``, ``tags`` (sorted ``k=v`` string,
  ``datapool.go:59-90``), ``ref_tag`` (per-reference tag)
- ``never_stale`` boolean
- ``ts_sec``      long     — event time, unix seconds
- ``value``       long     — int64 value contract (``datapool.go:16``)
- ``record_id``   long     — deterministic 52-bit id (md5 of the url
  mixed with ts and line_no, contracts.py), drives the reservoir's
  reproducible randomness

Value semantics (``datapool.go:138-207``):

- position 0 => constant 1 (count-a-line, ``README.md:103``);
- ``format="int"``: int64 parse (engine-wide contract: strip, then
  strict ``[+-]?\\d+`` fullmatch — identical in the fused kernel and
  the Python oracle), then ``*multiply`` then integer ``/divide``
  (each only when >1, matching the reference's guards);
- ``format="float"``: float parse then scale then truncate to int64;
  multiply and divide are each computed from the RAW parsed float, so
  divide *overrides* multiply when both >1 (``datapool.go:149-156`` —
  the reference never composes them); the multiply==divide==1 =>
  stays-0 quirk (``datapool.go:150-155``) is behind
  ``compat.float_noscale_zero``;
- any referenced group failing to parse drops the WHOLE line
  (``datapool.go:168-171``);
- ``add``/``sub`` operands are int64 parses of the referenced
  positions, position-0 operands skipped (``datapool.go:179-201``);
  a negative result drops the line when ``warn_on_operation_fail`` —
  the reference applies this check to EVERY datapoint, with or
  without add/sub ops (``datapool.go:203-207``);
- ``compat.cumulative_ops`` replays the reference's shared-value
  mutation across references at the same position (block order;
  ``datapool.go:181-211``); default computes each reference
  independently.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .route import arrow_schema

DATAPOINT_SCHEMA = (
    "key_id string, group string, metric_type string, key_prefix string, "
    "key_suffix string, tags string, ref_tag string, never_stale boolean, "
    "ts_sec long, value long, record_id long"
)
_DATAPOINT_ARROW = arrow_schema(DATAPOINT_SCHEMA)
# the per-key columns of a datapoint, in schema order
KEY_FIELDS = tuple(_DATAPOINT_ARROW.names[:8])
MT_CODE = {"counter": 0, "meter": 1, "histogram": 2}


@dataclasses.dataclass
class Datapoints:
    """One batch of datapoints, factored by key. ``keys`` holds one
    entry per distinct key: the :data:`KEY_FIELDS` columns, then any
    further key column (the lineage unit ``u``, see :meth:`split_by`);
    ``mt`` is each key's :data:`MT_CODE`. Datapoint i is key ``key[i]``
    at ``ts_sec[i]`` with ``value[i]`` and ``record_id[i]``, from the
    input row ``page[i]``."""

    keys: dict[str, pa.Array]
    mt: np.ndarray
    key: np.ndarray
    ts_sec: np.ndarray
    value: np.ndarray
    record_id: np.ndarray
    page: np.ndarray

    def to_arrow(self) -> pa.RecordBatch:
        """The row form, ``DATAPOINT_SCHEMA``."""
        at = pa.array(self.key)
        return pa.RecordBatch.from_arrays(
            [self.keys[c].take(at) for c in KEY_FIELDS]
            + [pa.array(self.ts_sec), pa.array(self.value), pa.array(self.record_id)],
            schema=_DATAPOINT_ARROW,
        )

    @classmethod
    def from_arrow(cls, batch: pa.RecordBatch) -> Datapoints:
        """A batch of ``DATAPOINT_SCHEMA`` rows, keyed by its distinct
        (group, key_id) pairs, each read at its first row."""
        group = pc.dictionary_encode(batch.column("group"))
        key_id = pc.dictionary_encode(batch.column("key_id"))
        pair = np.asarray(group.indices, np.int64) * len(key_id.dictionary) + np.asarray(key_id.indices)
        _, first, key = np.unique(pair, return_index=True, return_inverse=True)
        at = pa.array(first)
        keys = {c: batch.column(c).take(at) for c in KEY_FIELDS}
        col = {c: pc.fill_null(batch.column(c), 0).to_numpy() for c in ("ts_sec", "value", "record_id")}
        return cls(keys, np.array([MT_CODE[m] for m in keys["metric_type"].to_pylist()]),
                   key, col["ts_sec"], col["value"], col["record_id"], np.arange(batch.num_rows))

    def split_by(self, name: str, of_page: pa.Array) -> Datapoints:
        """The same datapoints with ``of_page`` (one value per input
        row) as a further key column ``name``: a key becomes one per
        (value, key) pair present."""
        enc = pc.dictionary_encode(of_page)
        n = len(self.mt)
        pair = np.asarray(enc.indices, np.int64)[self.page] * n + self.key
        uniq, key = np.unique(pair, return_inverse=True)
        at = pa.array(uniq % n)
        keys = {c: a.take(at) for c, a in self.keys.items()}
        keys[name] = enc.dictionary.take(pa.array(uniq // n))
        return dataclasses.replace(self, keys=keys, mt=self.mt[uniq % n], key=key)
