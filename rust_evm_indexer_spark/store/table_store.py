"""Manifest-versioned atomic multi-table parquet store.

The reference gets its integrity story from one PostgreSQL transaction per
block: block + transactions + logs + checkpoint commit together or not at
all (``src/main.rs:229-311``), idempotent re-inserts via ON CONFLICT DO
NOTHING (``src/db.rs:97,136``), and reorg rollback via three DELETEs
(``src/db.rs:34-50``).  Spark has no multi-table transaction — Delta txns
are per table — so this store provides the equivalent with a *single
versioned manifest covering every table*:

- a **manifest** lists, per table, the immutable parquet fragment
  directories that make up the current snapshot, with per-fragment
  ``min/max block_number`` stats and row counts.  One encoding: a log of
  O(changed) delta records over periodic checkpoints, each checkpoint a
  JSON envelope whose fragment list is a parquet sidecar (decoded once
  per store, then pruned in memory); all of it planned in
  :meth:`TableStore._swap_next`;
- a **commit** writes new fragments for any subset of tables, then swaps
  the CURRENT pointer to a new manifest version with one atomic rename —
  readers see the whole batch or none of it (the cross-table atomicity
  Delta cannot give; SURVEY.md §7 hard-part 2);
- the **ingest checkpoint lives inside the manifest** (``status`` field),
  exactly like the reference writes ``indexer_status`` inside the same DB
  transaction (``src/main.rs:299-307``) — checkpoint and data cannot
  diverge by construction;
- **idempotency**: each commit may carry ``(txn_app_id, txn_version)``;
  a replayed version is a no-op (the Delta ``txnAppId/txnVersion``
  pattern, ≙ ON CONFLICT DO NOTHING at batch granularity);
- **rollback_from(height)** drops every fragment wholly ≥ height and
  rewrites straddling fragments through the one row-level rewrite
  kernel (:meth:`TableStore._rewrite_fragment`: pyarrow, in process)
  that deletes, upserts and projection takedowns share, so neither a
  tip reorg nor a delete runs a Spark job — across all
  tables in one manifest swap, so the children-first delete ordering the
  reference needs is moot;
- **additive schema evolution**: the manifest carries each table's
  evolved read schema, updated inside the same swap as the data that
  introduced it — new columns append nullable, type changes fail loud,
  and reads resolve the schema in O(1) from the manifest instead of
  merging N file footers (``mergeSchema`` at 100 TB reads every footer
  before the first data byte).

Scale posture (100 TB): fragments are written per ingest batch, so they
are naturally block-range clustered; the manifest's min/max stats prune
fragments *before* Spark even lists files, and parquet row-group stats
prune within fragments.  For hash-like point lookups (address, tx hash)
where min/max prunes nothing, per-fragment **bloom sidecars** restore
the reference's index tier (``store/bloom.py``; probed via
``read(..., equals=...)``).  Reads hand Spark a list of paths — Catalyst
treats it as one scan with full pushdown.  Rollback cost is
proportional to the fork depth (tail fragments only), never to table
size.

Manifest-tier storage is pluggable (``store/manifest_io.py``, r11): the
commit protocol needs exactly conditional PUT + strong GET + a
monotonic pointer write, all behind :class:`ManifestIO` — POSIX files
by default, an object store (S3 ``If-None-Match`` / ``If-Match``) by
adapter; an in-memory S3-semantics fake with crash injection proves the
protocol (claim tokens, ownership fence, cross-format withdrawal,
monotonic CURRENT, grace-enveloped self-heal and roll-forward) holds
where POSIX crutches are absent.  The DATA tier (fragment directories)
stays on whatever filesystem Spark writes to (file://, s3a://).
"""

from __future__ import annotations

import io as _io_mod
import json
import re
import time as _time_mod
import uuid
from dataclasses import dataclass, field
from functools import lru_cache
from pathlib import Path
from typing import Any

import pyarrow as pa
import pyarrow.dataset as pa_ds
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

from ..schemas import EVM_SCHEMAS
from .data_io import make_staging_rel as _make_staging_rel

_CURRENT = "CURRENT"


def write_arrow_part(out_dir: Path, tbl: "pa.Table") -> Path:
    """One parquet part file of ``tbl`` under ``out_dir`` (created if
    absent), uniquely named so concurrent writers and retried task
    attempts never collide."""
    out_dir.mkdir(parents=True, exist_ok=True)
    part = out_dir / f"part-{uuid.uuid4().hex}.parquet"
    pq.write_table(tbl, part)
    return part


@dataclass
class Fragment:
    path: str  # relative to store root
    rows: int
    min_block: int | None = None
    max_block: int | None = None
    # per-column bloom params: {col: {"m": bits, "k": hashes, "n": keys}}
    # (the bitset itself is a sidecar file inside the fragment dir —
    # manifests stay O(#fragments); see store/bloom.py)
    blooms: dict | None = None
    # True for fragments produced by REWRITING existing data (rollback
    # straddle rewrites, delete_equals rewrites, compaction output).  A
    # derived fragment contains no first-seen rows, so the changefeed
    # (:meth:`TableStore.changes`) skips it — appends stay exactly-once
    # across background maintenance.
    derived: bool = False
    # per-column distinct-value dictionaries for LOW-cardinality columns
    # ({col: sorted normalized values}, only when the fragment's distinct
    # count fits DICT_MAX_DISTINCT).  Stored INLINE in the manifest —
    # unlike blooms, pruning an equality probe needs zero sidecar I/O and
    # is EXACT (no false positives), the right trade for a column like
    # topic0 whose per-fragment distinct count is tens, not millions.
    dicts: dict | None = None
    # cluster-key range for PROJECTION fragments (min/max of the first
    # cluster_by column, from the parquet footer) — the string analog of
    # min_block/max_block, prunable for key equality and ranges
    min_key: str | None = None
    max_key: str | None = None
    # on-disk bytes, recorded at write time so stats()/the maintenance
    # skew trigger are MANIFEST-only — no per-fragment filesystem stat
    # walk at maintenance cadence (r9; None on pre-r9 manifests, which
    # degrade to the filesystem fallback)
    bytes: int | None = None

    def to_json(self) -> dict:
        d = self.__dict__.copy()
        for opt in ("blooms", "dicts", "min_key", "max_key", "bytes"):
            if d.get(opt) is None:
                d.pop(opt, None)
        if not d.get("derived"):
            d.pop("derived", None)  # default-False: keep old manifests byte-stable
        return d


@dataclass
class Manifest:
    version: int = 0
    txns: dict[str, int] = field(default_factory=dict)  # app_id -> version
    status: dict[str, Any] | None = None  # ingest checkpoint row
    # audit: which operation produced this version ("commit", "compact",
    # "rollback", "delete", "projection", …).  The changefeed uses it to
    # detect reorg retractions inside a consumption window.
    op: str | None = None
    # operation detail for ops the changefeed must be able to REPLAY:
    # delete_equals records {"table", "column", "value"} so
    # :meth:`TableStore.changes` can emit the exact deleted rows from
    # the (immutable, retained) pre-delete fragments without the store
    # ever writing a tombstone file.  Absent for other ops; omitted from
    # JSON when None so pre-existing manifests stay byte-identical.
    op_info: dict | None = None
    tables: dict[str, list[Fragment]] = field(default_factory=dict)
    # per-table evolved read schema (Spark StructType jsonValue).  Absent
    # for tables that never evolved past EVM_SCHEMAS / their first write.
    schemas: dict[str, dict] = field(default_factory=dict)
    # clustered projections: {table: {name: {"cluster_by": [cols],
    # "covers": [base fragment paths], "fragments": [Fragment...]}}}.
    # ``covers`` is the staleness contract — see build_projection.
    projections: dict[str, dict] = field(default_factory=dict)

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "txns": self.txns,
            "status": self.status,
            "op": self.op,
            **({"op_info": self.op_info} if self.op_info is not None else {}),
            "tables": {
                t: [f.to_json() for f in frags] for t, frags in self.tables.items()
            },
            "schemas": self.schemas,
            "projections": {
                t: {
                    name: {
                        "cluster_by": p["cluster_by"],
                        "layout": p.get("layout", "range"),
                        "covers": p["covers"],
                        "fragments": [f.to_json() for f in p["fragments"]],
                    }
                    for name, p in projs.items()
                }
                for t, projs in self.projections.items()
            },
        }

    @classmethod
    def from_json(cls, d: dict) -> "Manifest":
        return cls(
            version=d["version"],
            txns=dict(d.get("txns", {})),
            status=d.get("status"),
            op=d.get("op"),
            op_info=d.get("op_info"),
            tables={
                t: [Fragment(**f) for f in frags]
                for t, frags in d.get("tables", {}).items()
            },
            schemas=dict(d.get("schemas", {})),
            projections={
                t: {
                    name: {
                        "cluster_by": list(p["cluster_by"]),
                        "layout": p.get("layout", "range"),
                        "covers": list(p["covers"]),
                        "fragments": [Fragment(**f) for f in p["fragments"]],
                    }
                    for name, p in projs.items()
                }
                for t, projs in d.get("projections", {}).items()
            },
        )


#: columnar fragment-list schema of every checkpoint (the "manifest of
#: manifests" tier — SCALE.md "Storage layout").  The checkpoint stores
#: its fragment list as a parquet sidecar (sorted by (table, min_block)),
#: decoded once per store (``TableStore._fraglist``), so a bounded read
#: filters a columnar table in memory and materializes only the surviving
#: rows as Python objects, where an inline-JSON list parses O(fragments)
#: before pruning a single path (tools/manifest_bench.py).  Swap
#: semantics: fraglist parquet first, then the JSON envelope referencing
#: it, then the CURRENT pointer.  Inline-JSON checkpoints written before
#: this layout stay readable.
_FRAGLIST_SCHEMA = pa.schema(
    [
        ("table", pa.string()),
        ("path", pa.string()),
        ("rows", pa.int64()),
        ("min_block", pa.int64()),
        ("max_block", pa.int64()),
        ("min_key", pa.string()),
        ("max_key", pa.string()),
        ("blooms_json", pa.string()),
        ("dicts_json", pa.string()),
        ("derived", pa.bool_()),
        ("bytes", pa.int64()),
    ]
)

#: log-structured manifest commits (the Delta-log shape): append-shaped
#: swaps (:meth:`TableStore.commit`, :meth:`TableStore.set_status`) and
#: delete/upsert/projection refreshes write an O(changed)-sized delta
#: record instead of rewriting the full fragment list — at millions of
#: fragments the append hot path pays O(batch), not O(table history).
#: Rollback, compaction and projection builds write full checkpoints,
#: and so does the swap after ``CHECKPOINT_INTERVAL`` chained deltas,
#: bounding a reader's delta-tail replay.  State lives entirely in the file names
#: (a delta records its base checkpoint version), so crash/reopen
#: continues the chain with no in-process bookkeeping.  0 writes
#: checkpoints only.
CHECKPOINT_INTERVAL = 16


def _write_fraglist(path: Path, tables: dict[str, list[Fragment]]) -> None:
    rows = []
    for table in sorted(tables):
        frags = sorted(
            tables[table], key=lambda f: (f.min_block is None, f.min_block, f.path)
        )
        for f in frags:
            rows.append(
                {
                    "table": table,
                    "path": f.path,
                    "rows": f.rows,
                    "min_block": f.min_block,
                    "max_block": f.max_block,
                    "min_key": f.min_key,
                    "max_key": f.max_key,
                    "blooms_json": json.dumps(f.blooms) if f.blooms else None,
                    "dicts_json": json.dumps(f.dicts) if f.dicts else None,
                    "derived": f.derived,
                    "bytes": f.bytes,
                }
            )
    tbl = pa.Table.from_pylist(rows, schema=_FRAGLIST_SCHEMA)
    pq.write_table(tbl, path)


def _fragment_from_fraglist_row(r: dict) -> Fragment:
    return Fragment(
        path=r["path"],
        rows=r["rows"],
        min_block=r["min_block"],
        max_block=r["max_block"],
        blooms=json.loads(r["blooms_json"]) if r["blooms_json"] else None,
        # .get: fraglist parquet written before the dict tier has no
        # dicts_json column — degrade to "no dictionary, keep fragment"
        dicts=json.loads(r["dicts_json"]) if r.get("dicts_json") else None,
        derived=bool(r.get("derived")),
        min_key=r["min_key"],
        max_key=r["max_key"],
        # .get: pre-r9 fraglists have no bytes column — fs fallback
        bytes=r.get("bytes"),
    )


class LazyManifest(Manifest):
    """A manifest whose fragment list lives in a parquet sidecar.

    ``tables`` hydrates lazily (full columnar read, cached) so every
    mutation path works unchanged; the pruned fast path
    (:meth:`TableStore.fragments_for`) filters the decoded sidecar
    columnar WITHOUT hydrating — only surviving rows become Python
    objects, which is what makes the format worthwhile."""

    @property
    def tables(self) -> dict[str, list[Fragment]]:
        hydrated = self.__dict__.get("_hydrated")
        if hydrated is None:
            out: dict[str, list[Fragment]] = {}
            ds = self.__dict__["_pq_ds"]()
            for r in ds.to_table().to_pylist():
                out.setdefault(r["table"], []).append(_fragment_from_fraglist_row(r))
            self.__dict__["_hydrated"] = hydrated = out
        return hydrated

    @tables.setter
    def tables(self, v) -> None:
        # the dataclass __init__ assigns the (empty) default — keep the
        # lazy state; any real assignment counts as hydration
        self.__dict__["_hydrated"] = v if v else None

    @property
    def projections(self) -> dict[str, dict]:
        """Projection state with ``covers`` hydrated from the columnar
        sidecar on first access (r10): the envelope keeps only the
        O(1) geometry, so manifest parses — and every operation that
        never touches projections — stay O(envelope) no matter how
        many base fragments the projections cover."""
        d = self.__dict__.get("_proj_field") or {}
        cov_ds = self.__dict__.get("_covers_ds")
        if cov_ds is not None and not self.__dict__.get("_covers_loaded"):
            by_proj: dict[tuple[str, str], list[str]] = {}
            ds = cov_ds()
            for r in ds.to_table().to_pylist():
                by_proj.setdefault((r["table"], r["proj"]), []).append(
                    r["path"]
                )
            for (t, name), paths in by_proj.items():
                if t in d and name in d[t]:
                    d[t][name]["covers"] = paths
            self.__dict__["_covers_loaded"] = True
        return d

    @projections.setter
    def projections(self, v) -> None:
        self.__dict__["_proj_field"] = v


class DeltaManifest(Manifest):
    """A manifest version whose fragment list is (checkpoint ± deltas).

    The log-structured commit path (SCALE.md "manifest write cost"):
    an append-shaped swap writes ONLY its own adds as an
    O(changed)-sized delta record (at the single ``v{N}.json`` name,
    distinguished from checkpoints by its ``base`` field) — and a
    reader resolves the version as the newest checkpoint at or below it
    plus the delta tail (the Delta-log transaction pattern).  The chain
    is bounded by ``CHECKPOINT_INTERVAL``: every K-th append re-writes
    a full checkpoint, amortizing hydration to O(total/K) per commit.

    Like :class:`LazyManifest`, ``tables`` hydrates lazily so every
    mutation path works unchanged; the pruned fast path
    (:meth:`TableStore.fragments_for`) prunes the BASE checkpoint
    (a columnar filter when it is itself lazy) and then applies the
    in-memory delta tail — bounded reads never hydrate the full list,
    even between checkpoints."""

    @property
    def tables(self) -> dict[str, list[Fragment]]:
        hydrated = self.__dict__.get("_hydrated")
        if hydrated is None:
            removes: dict[str, set] = self.__dict__["_removes"]
            out: dict[str, list[Fragment]] = {}
            for t, frags in self.__dict__["_base"].tables.items():
                rm = removes.get(t)
                out[t] = [f for f in frags if f.path not in rm] if rm else list(frags)
            for t, fl in self.__dict__["_adds"].items():
                out.setdefault(t, [])
                out[t] = out[t] + list(fl)
            self.__dict__["_hydrated"] = hydrated = out
        return hydrated

    @tables.setter
    def tables(self, v) -> None:
        self.__dict__["_hydrated"] = v if v else None

    @property
    def projections(self) -> dict[str, dict]:
        """Chain projection state, resolved lazily (r10): commits and
        bounded reads never touch projections, so resolution must not
        force the base checkpoint's covers hydration — the chain's
        ``projections_delta`` records apply copy-on-write on FIRST
        access instead."""
        cached = self.__dict__.get("_proj_resolved")
        if cached is None:
            base_p = self.__dict__["_base"].projections
            ups = self.__dict__.get("_proj_updates") or []
            if ups:
                cached = {t: dict(ps) for t, ps in base_p.items()}
                for t, upd in ups:
                    cached[t] = _apply_projection_updates(
                        cached.get(t, {}), upd
                    )
            else:
                cached = base_p
            self.__dict__["_proj_resolved"] = cached
        return cached

    @projections.setter
    def projections(self, v) -> None:
        # the dataclass __init__ assigns the empty placeholder — keep
        # the lazy state; a real assignment counts as resolved
        self.__dict__["_proj_resolved"] = v if v else None


def _apply_projection_updates(proj_state: dict, updates: dict) -> dict:
    """Apply O(touched) projection updates to one table's projection
    dict (pure): rename/drop covered base paths via ``covers_map`` and
    swap rewritten projection fragments.  Shared by the checkpoint
    materialization and the delta-chain resolution in ``manifest_at``,
    so both swap formats produce the same projection state by
    construction (VERDICT r9 item 2).  A ``{"set": entry}`` record
    (build_projection; ``None`` for drop_projection) replaces the whole
    entry — checkpoint-only, never serialized into a delta."""
    new_state = dict(proj_state)
    for name, ch in updates.items():
        if "set" in ch:
            new_state[name] = ch["set"]
            if ch["set"] is None:
                del new_state[name]
            continue
        proj = new_state[name]
        cm = ch["covers_map"]
        rm = set(ch["pfrags_remove"])
        new_state[name] = {
            "cluster_by": list(proj["cluster_by"]),
            "layout": proj.get("layout", "range"),
            "covers": [
                cm.get(p, p) for p in proj["covers"]
                if cm.get(p, p) is not None
            ]
            # covers_add: a refresh extends coverage over the drained
            # delta tail (no renames) — absent in takedown records
            + list(ch.get("covers_add", ())),
            "fragments": [f for f in proj["fragments"] if f.path not in rm]
            + list(ch["pfrags_add"]),
        }
    return new_state


def _manifest_fragment_paths(m: "Manifest") -> set:
    """Every fragment-dir path a manifest references (tables +
    projection fragments) — vacuum's classification unit, shared so a
    future fragment-bearing manifest field can't silently diverge the
    live set from the ever-referenced set (r12 review)."""
    paths = {f.path for frags in m.tables.values() for f in frags}
    paths.update(
        f.path
        for projs in m.projections.values()
        for p in projs.values()
        for f in p["fragments"]
    )
    return paths


def _proj_updates_to_json(updates: dict) -> dict:
    """Serialize one table's projection updates into a delta record."""
    return {
        name: {
            "covers_map": ch["covers_map"],
            "covers_add": list(ch.get("covers_add", ())),
            "pfrags_remove": ch["pfrags_remove"],
            "pfrags_add": [f.to_json() for f in ch["pfrags_add"]],
        }
        for name, ch in updates.items()
    }


def _evolve_schema(old: "T.StructType | None", new: "T.StructType") -> "T.StructType":
    """Additive schema evolution (the Delta ``mergeSchema`` contract):
    new columns append as NULLABLE; a type change on an existing column
    is a loud error, never a silent cast.  Columns the writer dropped
    stay in the evolved schema (old data still has them; new fragments
    read them as NULL under the explicit schema).  Nullability is not
    part of the compatibility check — parquet stats differ per fragment.
    """
    from pyspark.sql import types as T

    if old is None:
        return new
    by_name = {f.name: f for f in old.fields}
    for f in new.fields:
        prev = by_name.get(f.name)
        if prev is not None and prev.dataType != f.dataType:
            raise ValueError(
                f"schema evolution rejected: column '{f.name}' changes type "
                f"{prev.dataType.simpleString()} -> {f.dataType.simpleString()}"
                " (additive-only evolution; migrate via an explicit rewrite)"
            )
    added = [
        T.StructField(f.name, f.dataType, nullable=True)
        for f in new.fields
        if f.name not in by_name
    ]
    return T.StructType(list(old.fields) + added) if added else old


def _pool_map(fn, items: list) -> list:
    """``fn`` over ``items`` on a bounded thread pool, results in order:
    the store's in-process fan-out for independent per-table and
    per-fragment work (parquet reads and writes release the GIL).  Any
    failure raises here, before the caller's manifest swap."""
    from concurrent.futures import ThreadPoolExecutor

    if not items:
        return []
    with ThreadPoolExecutor(max_workers=min(len(items), 8)) as pool:
        return list(pool.map(fn, items))


#: past this many keys the index tiers are not probed: per-key bloom
#: probing is driver-side O(keys x fragments), and nearly every bloom
#: admits some key anyway, so the kernel scans every fragment instead
PROBE_MAX_KEYS = 2048


@dataclass(frozen=True)
class KeyMatch:
    """Rows whose ``column`` equals one of ``values`` — the one match
    rule of :meth:`TableStore.delete_equals`, ``delete_in`` and
    ``upsert``.  It compiles to a pyarrow keep-expression for the
    fragment-rewrite kernel and to a Spark Column for the changefeed's
    delete replay, so both always agree on which rows an operation
    removed.  NULL keys never match.

    String keys compare case-insensitively under Python's ``str.lower``
    — what Spark's ``lower()`` does and what the bloom/dict tiers
    normalize with.  pyarrow's ``utf8_lower`` is NOT that function
    ('İstanbul' and final sigma differ), so the pyarrow side lowers a
    fragment's distinct column values in Python and matches the raw
    values whose lowered form is a key."""

    column: str
    values: tuple

    @classmethod
    def recorded(cls, op_info: dict) -> "KeyMatch":
        """The match a manifest ``op_info`` records: ``value`` for
        delete_equals, ``values`` for delete_in and upsert."""
        vals = op_info["values"] if "values" in op_info else [op_info["value"]]
        return cls(op_info["column"], tuple(vals))

    @property
    def _keys(self) -> list:
        return [v for v in self.values if v is not None]

    @property
    def _lowered(self) -> set | None:
        """The lowered key set for string keys, else None."""
        keys = self._keys
        if keys and isinstance(keys[0], str):
            return {v.lower() for v in keys}
        return None

    def probe(self) -> dict[str, list] | None:
        """The index-tier probe (one IN-list per fragment), or None when
        the key set is too large to probe (:data:`PROBE_MAX_KEYS`)."""
        if len(self.values) > PROBE_MAX_KEYS:
            return None
        return {self.column: list(self.values)}

    def spark(self):
        """The match as a Spark Column."""
        from pyspark.sql import functions as F

        lowered = self._lowered
        if lowered is not None:
            return F.lower(F.col(self.column)).isin(sorted(lowered))
        return F.col(self.column).isin(self._keys)

    def keep(self, ds: "pa_ds.Dataset"):
        """The complement as a pyarrow expression over one fragment's
        dataset.  A fragment without the column (written before a schema
        evolution added it) reads it as NULL: every row is kept."""
        import pyarrow.compute as pc

        if self.column not in ds.schema.names:
            return pc.scalar(True)
        keys, lowered = self._keys, self._lowered
        if lowered is not None:
            col = ds.to_table(columns=[self.column]).column(self.column)
            keys = [
                v for v in pc.unique(col).to_pylist()
                if isinstance(v, str) and v.lower() in lowered
            ]
        if not keys:
            return pc.scalar(True)
        # is_in never yields NULL, so a NULL key row is kept
        typ = ds.schema.field(self.column).type
        return ~pc.field(self.column).isin(pa.array(keys, typ))


# Point-lookup columns that get a per-fragment bloom sidecar: hash-like
# keys uniformly spread across block ranges, where min/max fragment stats
# prune nothing but the reference serves an indexed sub-ms lookup — the
# logs secondary indexes at init.sql:66-74 (contract_address,
# transaction_hash); tx_hash/block_hash lookups are served by their
# PRIMARY KEY indexes (init.sql:28, init.sql:14).
DEFAULT_BLOOM_COLUMNS: dict[str, tuple[str, ...]] = {
    "logs": ("contract_address", "transaction_hash"),
    "transactions": ("tx_hash",),
    "blocks": ("block_hash",),
}

# Low-cardinality columns that get an inline distinct-value dictionary
# per fragment: topic0 is an event SIGNATURE (keccak of the event ABI),
# so a 100 TB logs table holds only thousands of distinct values and a
# single fragment typically tens — but they are hash-like, so min/max
# stats never prune and a bloom is oversized for the job.  The exact
# per-fragment value set is a few KB of manifest, prunes with zero
# sidecar I/O, and serves the reference's hottest filter shape
# (``WHERE topic0 = $1`` — the idx_logs_topic0_block index,
# init.sql:66-70).
DEFAULT_DICT_COLUMNS: dict[str, tuple[str, ...]] = {
    "logs": ("topic0",),
}

#: past this per-fragment distinct count the dictionary is skipped —
#: the column isn't low-cardinality there and the bloom tier (if
#: configured) takes over.  Degradation is "no dict, keep fragment",
#: never wrong results.
DICT_MAX_DISTINCT = 64


@dataclass(frozen=True)
class MaintenancePolicy:
    """Thresholds for :meth:`TableStore.maintain_store` — the knobs an
    operator sets once per deployment, consumed against :meth:`stats`
    every pass (VERDICT r7 item 6: stats exposed fragment counts, lag
    and staleness, but nothing consumed them).

    - ``max_fragments``: compact a table once its fragment count
      exceeds this (streaming ingest leaves one fragment per batch;
      small-query scan cost is ∝ fragment count).
    - ``max_size_skew``: compact when largest/median fragment bytes
      exceeds this even if the COUNT is fine — one 10 GB base plus a
      tail of 1 MB streaming fragments reads as few fragments but pays
      per-file open cost on every scan and starves range pruning.
    - ``max_projection_lag``: refresh a projection once more than this
      many base fragments sit in its LSM tail (read_projection unions
      the tail per query — bounded lag bounds read amplification).
    - ``vacuum_grace_seconds`` / ``keep_manifests``: retention for
      in-flight readers / time-travel, passed through to
      :meth:`vacuum`.
    - ``zorder_by`` / ``sort_within``: per-table compaction layout
      overrides (table name -> columns).
    """

    max_fragments: int = 8
    max_size_skew: float = 8.0
    max_projection_lag: int = 4
    vacuum_grace_seconds: float = 0.0
    keep_manifests: int = 10
    zorder_by: dict[str, tuple[str, ...]] = field(default_factory=dict)
    sort_within: dict[str, tuple[str, ...]] = field(default_factory=dict)


class TableStore:
    """See module docstring.  One instance per store root directory."""

    def __init__(
        self,
        spark: SparkSession,
        root: str | Path,
        *,
        bloom_columns: dict[str, tuple[str, ...]] | None = None,
        dict_columns: dict[str, tuple[str, ...]] | None = None,
        manifest_io=None,
        data_io=None,
        claim_grace_seconds: float = 60.0,
    ):
        self.spark = spark
        self.root = Path(root)
        self.bloom_columns = (
            DEFAULT_BLOOM_COLUMNS if bloom_columns is None else bloom_columns
        )
        self.dict_columns = (
            DEFAULT_DICT_COLUMNS if dict_columns is None else dict_columns
        )
        #: LRU of bloom sidecar bitsets keyed by (fragment path, column).
        #: Fragments are immutable, so a cached bitset can never go
        #: stale; without it every point lookup re-reads the few-KB
        #: sidecar of every min/max-surviving fragment from disk — at
        #: high lookup QPS on a hot table, that's the same file hundreds
        #: of times.  Capped; bitsets are ~n·10/8 bytes each.
        from collections import OrderedDict

        self._bloom_sidecar_cache: OrderedDict[tuple[str, str], bytes] = (
            OrderedDict()
        )
        self._bloom_sidecar_cache_max = 4096
        #: manifest-tier storage backend.  POSIX directory by default;
        #: pass an object-store adapter (see store/manifest_io.py) to
        #: run the identical commit protocol over S3-style conditional
        #: PUT — every concurrency decision funnels through it.  The
        #: DATA tier (parquet fragment dirs) stays on the filesystem
        #: Spark writes to (file://, s3a://) regardless.
        from .data_io import LocalDataTierIO
        from .manifest_io import LocalManifestIO

        self._mio = (
            manifest_io
            if manifest_io is not None
            else LocalManifestIO(self.root / "_manifests")
        )
        #: data-tier seam (store/data_io.py): the operations TableStore
        #: itself performs on fragment directories — staged-output
        #: adoption, existence/size/mtime, recursive deletes, vacuum's
        #: fragment walk.  POSIX by default; ObjectStoreStyleDataTierIO
        #: expresses the same contract in flat object primitives (no
        #: rename/rmtree/dir-stat), proving vacuum/rollback/compaction
        #: hold where fragments live under non-POSIX semantics.  Spark
        #: and pyarrow keep reading/writing fragment bytes by URI.
        self._dio = data_io if data_io is not None else LocalDataTierIO(self.root)
        #: decoded checkpoint fraglists by sidecar name.  Names are
        #: writer-unique and never rewritten, so an entry cannot go
        #: stale; without it every fragments_for/table_rows call re-opens
        #: the sidecar (/stats once per table).  /stats on a 60-block
        #: store: 3.5-3.7 → 1.7-2.8 ms (A/B in CHANGES.md).
        self._fraglist = lru_cache(maxsize=4)(
            lambda name: self._mio.parquet_dataset(name).to_table()
        )
        #: minimum age before ANOTHER actor may treat a claim file as a
        #: crashed writer's orphan (vacuum reclaim, claim self-heal).
        #: This is the commit protocol's liveness envelope: a writer
        #: must get from claim to manifest-put within this window or it
        #: forfeits the version (ADVICE r10 medium — without a floor, a
        #: vacuum racing a live writer could free a just-taken claim
        #: and reintroduce the lost update the claim exists to prevent).
        #: Zero would make every LIVE claim instantly "orphaned" to the
        #: self-heal — i.e. turn the guard itself into the race — so it
        #: is rejected; tests backdate claim mtimes to expire the
        #: envelope instead of disabling it.
        #:
        #: SIZING ON REMOTE BACKENDS (ADVICE r11): liveness compares
        #: local time.time() against backend-reported mtimes, so clock
        #: skew between this host and the object store (or between
        #: hosts sharing a store) shrinks the effective envelope by the
        #: skew.  Safety holds regardless (fence + single-name put),
        #: but a live writer whose claim is prematurely judged orphan
        #: fails its commit needlessly — size grace >> max expected
        #: |skew| (default 60s suits a local/NTP-disciplined setup;
        #: use >= 300s for multi-host deployments on S3/GCS; see
        #: ManifestIO.mtime's contract note).
        if claim_grace_seconds <= 0:
            raise ValueError(
                "claim_grace_seconds must be > 0: a zero liveness "
                "envelope lets a racing writer self-heal (steal) a LIVE "
                "claim, which is the lost update the claim protocol "
                "exists to prevent"
            )
        self.claim_grace_seconds = claim_grace_seconds
        self._dio.ensure_root()

    # -- manifest plumbing -------------------------------------------------

    def current_version(self) -> int:
        """The committed manifest version (0 = empty store) — one small
        file read, no manifest parse.  Cheap enough to call per API
        request as a staleness probe (``EvmApi`` refreshes its cached
        frames only when this advances)."""
        try:
            return int(self._mio.get_text(_CURRENT))
        except FileNotFoundError:
            return 0

    def current_manifest(self) -> Manifest:
        version = self.current_version()
        if version == 0:
            return Manifest()
        return self.manifest_at(version)

    def manifest_at(self, version: int) -> Manifest:
        """A specific manifest version — time travel, bounded by
        :meth:`vacuum`'s ``keep_manifests`` retention (the Delta
        ``versionAsOf`` analog; every commit/rollback/compaction is a
        version, so this reads the store as of any retained point)."""
        d = self._read_version_record(version)
        if d is None:
            raise ValueError(
                f"manifest v{version} not found (vacuumed or never written)"
            )
        if "base" not in d:  # checkpoint record
            if "tables_pq" in d:  # parquet fragment list: load lazily
                m = LazyManifest.from_json(d)
                m.__dict__["_pq_ds"] = (
                    lambda name=d["tables_pq"]: pa_ds.dataset(self._fraglist(name))
                )
                if "covers_pq" in d:  # covers sidecar: hydrate lazily
                    m.__dict__["_covers_ds"] = (
                        lambda name=d["covers_pq"]: self._mio.parquet_dataset(name)
                    )
                return m
            return Manifest.from_json(d)
        # log-structured version: resolve checkpoint + delta tail.  The
        # newest delta names its base checkpoint, so resolution reads
        # exactly (1 checkpoint envelope + tail) small files — the tail
        # is bounded by CHECKPOINT_INTERVAL, never by history length.
        head = d
        base_v = head["base"]
        base = Manifest() if base_v == 0 else self.manifest_at(base_v)
        adds: dict[str, list[Fragment]] = {}
        removes: dict[str, set] = {}
        # metadata-only row accounting for removing deltas (ADVICE r9):
        # rows removed from the BASE checkpoint, accumulated from the
        # per-delta `removes_rows` map, so table_rows stays O(tail)
        # even when the chain contains takedowns.  A pre-r10 removing
        # delta lacks the map — flag the table incomplete and fall back
        # to hydration there only.
        base_removed_rows: dict[str, int] = {}
        removed_rows_ok: dict[str, bool] = {}
        # projection updates carried by takedown deltas (r10): applied
        # IN ORDER over the base checkpoint's projection state below
        proj_updates: list[tuple[str, dict]] = []
        last = head
        for k in range(base_v + 1, version + 1):
            dk = head if k == version else self._read_version_record(k)
            if dk is None:
                # an intermediate delta was vacuumed or lost — fail the
                # same way the head lookup does, not with AttributeError
                # on dk.get (ADVICE r11 low)
                raise ValueError(
                    f"manifest v{k} not found (vacuumed or never written)"
                )
            for t, fl in dk.get("adds", {}).items():
                adds.setdefault(t, []).extend(Fragment(**f) for f in fl)
            for t, ps in dk.get("removes", {}).items():
                ps_set = set(ps)
                netted: set = set()
                if t in adds:
                    # a remove can target a path ADDED earlier in this
                    # same chain (commit then takedown between two
                    # checkpoints) — the base-level removes filter never
                    # sees it, so drop it from the accumulated adds here
                    netted = {f.path for f in adds[t] if f.path in ps_set}
                    adds[t] = [f for f in adds[t] if f.path not in ps_set]
                removes.setdefault(t, set()).update(ps_set)
                dr = dk.get("removes_rows", {}).get(t, {})
                for p in ps_set - netted:  # removals that hit the base
                    if p in dr:
                        base_removed_rows[t] = base_removed_rows.get(t, 0) + dr[p]
                    else:
                        removed_rows_ok[t] = False
                removed_rows_ok.setdefault(t, True)
            for t, per_proj in dk.get("projections_delta", {}).items():
                proj_updates.append((
                    t,
                    {
                        name: {
                            "covers_map": ch["covers_map"],
                            "covers_add": ch.get("covers_add", []),
                            "pfrags_remove": ch["pfrags_remove"],
                            "pfrags_add": [
                                Fragment(**fj) for fj in ch["pfrags_add"]
                            ],
                        }
                        for name, ch in per_proj.items()
                    },
                ))
            last = dk
        dm = DeltaManifest(
            version=version,
            txns=dict(last.get("txns", {})),
            status=last.get("status"),
            op=last.get("op"),
            op_info=last.get("op_info"),
            schemas=dict(last.get("schemas", {})),
            # projections resolve LAZILY (the .projections property
            # applies the chain's projection deltas copy-on-write over
            # the base on first access) — commits and bounded reads
            # never pay the base's covers hydration
            projections={},
        )
        dm.__dict__["_proj_updates"] = proj_updates
        dm.__dict__["_base"] = base
        dm.__dict__["_base_version"] = base_v
        dm.__dict__["_adds"] = adds
        dm.__dict__["_removes"] = removes
        dm.__dict__["_base_removed_rows"] = base_removed_rows
        dm.__dict__["_removed_rows_ok"] = removed_rows_ok
        # this version's OWN adds/removes (not the accumulated chain) —
        # the changefeed's per-version fast path
        dm.__dict__["_last_adds"] = {
            t: [Fragment(**f) for f in fl]
            for t, fl in head.get("adds", {}).items()
        }
        dm.__dict__["_last_removes"] = {
            t: set(ps) for t, ps in head.get("removes", {}).items()
        }
        return dm

    def _put_if_absent(self, name: str, content: str) -> None:
        """Create manifest object ``name`` with ``content`` iff it does
        not already exist — the store's single concurrency primitive.

        Delegates to the manifest-IO backend: ``open(..., "x")``
        (O_CREAT|O_EXCL) on the POSIX backend, the conditional PUT on an
        object store (S3 ``If-None-Match: *``, GCS
        ``ifGenerationMatch=0``, Azure ``If-None-Match``) — every
        optimistic-concurrency decision in the store funnels through
        here, so swapping the backend swaps the whole commit protocol
        (see store/manifest_io.py; the protocol suite runs parametrized
        over both backends in tests/test_manifest_log.py).
        Raises :class:`FileExistsError` when another writer won."""
        self._mio.put_if_absent(name, content)

    def _read_version_record(self, version: int) -> dict | None:
        """The raw JSON record for one version, or None.  EVERY version
        lives at the single name ``v{N}.json`` — checkpoint and
        log-structured delta alike, distinguished by content (a delta
        carries ``base``) — so the conditional PUT on that one name is
        the per-version arbiter and no cross-format race can exist (r11
        review: with two names, no secondary arbiter — claim, mtime,
        format preference — can reliably identify the acknowledged
        winner).  Reads fall back to the pre-r11 ``v{N}.delta.json``
        name so existing stores keep resolving."""
        try:
            return json.loads(self._mio.get_text(f"v{version:06d}.json"))
        except FileNotFoundError:
            pass
        try:
            return json.loads(
                self._mio.get_text(f"v{version:06d}.delta.json")
            )
        except FileNotFoundError:
            return None

    def _version_record_exists(self, version: int) -> bool:
        return self._mio.exists(f"v{version:06d}.json") or self._mio.exists(
            f"v{version:06d}.delta.json"
        )

    def _claim_orphan_snapshot(self, version: int) -> tuple[str, float] | None:
        """Judge whether ``v{N}.claim`` is a CRASHED writer's leftover —
        the claim exists, neither manifest format for N was ever
        written, CURRENT never reached N, and the claim is older than
        the liveness envelope (``claim_grace_seconds``), i.e. no live
        writer can still be between its claim and its manifest put —
        returning the exact ``(content, mtime)`` the judgment was made
        against (or ``None`` when the claim is live/absent), so the
        healer can condition its delete on the claim being UNCHANGED
        since this check (TOCTOU guard, ADVICE r11 low)."""
        name = f"v{version:06d}.claim"
        try:
            content = self._mio.get_text(name)
            mtime = self._mio.mtime(name)
        except FileNotFoundError:
            return None
        age = _time_mod.time() - mtime
        if (
            age >= self.claim_grace_seconds
            and not self._version_record_exists(version)
            and self.current_version() < version
        ):
            return (content, mtime)
        return None

    def _delete_claim_if_unchanged(
        self, name: str, content: str, mtime: float
    ) -> bool:
        """Best-effort conditioned delete: re-read the claim IMMEDIATELY
        before deleting and skip when it changed since the orphan check
        — between that check and this delete another healer may already
        have freed and re-claimed the name, and an unconditional delete
        would forfeit that healer's fresh LIVE claim (ADVICE r11 low).
        On backends with a real conditional delete (S3 If-Match / GCS
        ``ifGenerationMatch``) an adapter can override this with the
        generation-conditioned call; here the window narrows to one
        read-to-delete round trip.  Safety never depended on this —
        the fence token + single-name manifest put keep every version
        single-winner regardless — this only stops a live writer being
        forfeited needlessly.  Returns True when the delete happened."""
        try:
            if (
                self._mio.get_text(name) != content
                or self._mio.mtime(name) != mtime
            ):
                return False
            self._mio.delete(name)
            return True
        except FileNotFoundError:
            return False

    def _claim_version(self, version: int, fmt: str) -> str:
        """Serialize version claims through a SINGLE per-version file.

        The r9 guard O_EXCL-created the format-specific manifest file and
        cross-checked the *other* format's name first — a check-then-create
        across two filenames, so a delta writer and a checkpoint writer
        racing on the same version could both pass their existence checks
        and both create their (different) files; ``manifest_at`` prefers
        ``v{N}.json``, silently dropping the delta commit's fragments
        (lost update — ADVICE r9).  Both swap paths now claim
        ``v{N}.claim`` through one conditional-put before writing either
        format, so exactly one writer per version wins regardless of
        which format each side is writing.

        Crash recovery (ADVICE r10): a writer dying between its claim
        and its manifest put would otherwise wedge the store — every
        later commit targets CURRENT+1, the dead writer's version,
        forever.  On claim conflict this method therefore checks the
        orphan conditions (:meth:`_claim_orphan_snapshot`: no manifest in
        either format, CURRENT below the version, claim older than
        ``claim_grace_seconds``) and SELF-HEALS — deletes the stale
        claim and retries the conditional put once.  A claim that is
        merely young stays untouchable and commits fail loudly with
        the recovery steps named: wait out the grace, or run
        :meth:`vacuum` (which reclaims grace-expired orphan claims
        with their versions).

        Ownership is FENCED, not assumed (r11 review): the claim's
        content carries a per-writer token, returned here; the swap
        paths re-verify the token right before their manifest put
        (:meth:`_assert_claim_owned`), so a writer whose 'orphaned'
        claim was actually stolen — it was alive, just slower than the
        envelope — aborts WITHOUT writing a manifest instead of
        landing a second format file for the version.  Racing healers
        are likewise safe: whoever's token survives in the claim is
        the one writer whose fence passes."""
        token = uuid.uuid4().hex
        name = f"v{version:06d}.claim"
        try:
            self._put_if_absent(name, f"{fmt}:{token}")
            return token
        except FileExistsError:
            pass
        snap = self._claim_orphan_snapshot(version)
        if snap is not None and self._delete_claim_if_unchanged(name, *snap):
            try:
                self._put_if_absent(name, f"{fmt}:{token}")
                return token
            except FileExistsError:
                pass  # another healer won the re-claim: fall through
        # the OTHER crash point: the claiming writer died AFTER its
        # manifest put but BEFORE advancing CURRENT.  The commit is
        # durable (the manifest log defines truth; the pointer is
        # derived), so roll the pointer forward instead of wedging —
        # then fail THIS commit loudly: it was planned against the
        # pre-roll-forward state and must be rebuilt by the caller.
        # Grace-gated like the orphan heal: a LIVE writer is normally
        # inside this window for only the one CURRENT put.
        if self.current_version() < version and self._version_record_exists(
            version
        ):
            try:
                age = _time_mod.time() - self._mio.mtime(name)
            except FileNotFoundError:
                age = self.claim_grace_seconds
            if age >= self.claim_grace_seconds:
                # monotonic: a stale healer can never move the pointer
                # BACKWARDS past commits that landed since its checks
                self._mio.advance_monotonic(_CURRENT, version)
                raise RuntimeError(
                    f"concurrent commit detected: manifest v{version} was "
                    "already committed by a writer that crashed before "
                    "advancing CURRENT; the pointer has been rolled "
                    "forward — retry this commit against the new state"
                )
        raise RuntimeError(
            f"concurrent commit detected: manifest version {version} "
            "already claimed by another writer (lost-update guard). "
            "If the claiming writer CRASHED before writing its manifest, "
            f"the claim self-heals after {self.claim_grace_seconds:.0f}s "
            "(claim_grace_seconds), or run vacuum() to reclaim it "
            "explicitly once the grace has elapsed."
        )

    def _assert_claim_owned(self, version: int, token: str) -> None:
        """The forfeit, ENFORCED (r11 review): re-read the claim right
        before the manifest put and verify it still carries OUR token.
        A writer that outlived the liveness envelope and had its claim
        self-healed away (stolen) by another writer aborts here —
        BEFORE writing a manifest — saving the doomed conditional put
        (the single v{N}.json name would reject it anyway once the
        thief lands).  Its already-written sidecars become orphans that
        vacuum reclaims."""
        name = f"v{version:06d}.claim"
        try:
            content = self._mio.get_text(name)
        except FileNotFoundError:
            content = ""
        if not content.endswith(f":{token}"):
            raise RuntimeError(
                f"commit forfeited: the claim on manifest version "
                f"{version} was reclaimed by another writer (this writer "
                f"exceeded the {self.claim_grace_seconds:.0f}s "
                "claim-to-manifest liveness envelope).  No manifest was "
                "written; retry the commit against the current state."
            )

    def _swap(self, manifest: Manifest) -> None:
        """Write the manifest then atomically advance the CURRENT pointer
        (POSIX rename; conditional-put on an object store).

        Optimistic concurrency: the version is claimed via
        :meth:`_claim_version` (one shared claim file for BOTH the
        checkpoint and delta formats) — if another writer already claimed
        the same version number, the claim fails and the commit raises
        instead of silently dropping the other writer's fragments (lost
        update).  The engine's design is single-writer ingest (like the
        reference's one ingester task); this guard turns an accidental
        second writer into a loud error, mirroring a conditional-put
        conflict."""
        mname = f"v{manifest.version:06d}.json"
        # legacy-layout belt: a pre-r11 store's delta at this version
        # lives under the old v{N}.delta.json name — a new checkpoint at
        # the single name would SHADOW it, so collide loudly instead
        if self._mio.exists(f"v{manifest.version:06d}.delta.json"):
            raise RuntimeError(
                f"concurrent commit detected: manifest v{manifest.version} "
                "already exists as a delta (another writer advanced the store)"
            )
        token = self._claim_version(manifest.version, "checkpoint")
        d = manifest.to_json()
        # fragment list to a columnar sidecar FIRST (an orphaned sidecar
        # from a lost race is reclaimed with its version by vacuum's
        # manifest pruning); the JSON keeps everything else (txns/status/
        # schemas/projection geometry — all O(1)-ish) inline.
        # writer-unique name: a stalled loser whose claim was stolen
        # must never overwrite the winner's LIVE sidecar with an
        # unconditional put — the envelope records the exact name, so
        # uniqueness is free (r11 review)
        pq_rel = f"frags-v{manifest.version:06d}-{token[:8]}.parquet"
        buf = _io_mod.BytesIO()
        _write_fraglist(buf, manifest.tables)
        self._mio.put_bytes(pq_rel, buf.getvalue())
        d["tables"] = {}
        d["tables_pq"] = pq_rel
        # projection ``covers`` lists are the other O(big) payload: they
        # grow with the COVERED BASE fragment count, so an inline-JSON
        # covers list makes every envelope parse O(covered).  They go to
        # a columnar sidecar with the same lifecycle; the envelope keeps
        # only the projection geometry and LazyManifest hydrates covers
        # on first .projections access
        cov_rows = [
            (t, name, p)
            for t, projs in manifest.projections.items()
            for name, pr in projs.items()
            for p in pr["covers"]
        ]
        if cov_rows:
            cov_rel = f"covers-v{manifest.version:06d}-{token[:8]}.parquet"
            cbuf = _io_mod.BytesIO()
            pq.write_table(
                pa.table(
                    {
                        "table": [r[0] for r in cov_rows],
                        "proj": [r[1] for r in cov_rows],
                        "path": [r[2] for r in cov_rows],
                    }
                ),
                cbuf,
            )
            self._mio.put_bytes(cov_rel, cbuf.getvalue())
            for projs in d["projections"].values():
                for name in projs:
                    projs[name]["covers"] = []
            d["covers_pq"] = cov_rel
        # fence: the sidecar writes above may have outlived the liveness
        # envelope — verify we still own the claim BEFORE the put
        self._assert_claim_owned(manifest.version, token)
        try:
            self._put_if_absent(mname, json.dumps(d, indent=1))
        except FileExistsError as exc:
            raise RuntimeError(
                f"concurrent commit detected: manifest v{manifest.version} "
                "already exists (another writer advanced the store)"
            ) from exc
        # CURRENT advance: a MONOTONIC small-object write.  Version
        # creation is serialized upstream (ONE conditional put per
        # version — checkpoint and delta share the v{N}.json name),
        # and monotonicity guarantees a stalled writer or a stale
        # roll-forward can never move the pointer backwards past
        # commits that landed meanwhile.  POSIX: flock-serialized
        # read-compare-rename; object stores: If-Match CAS.
        self._mio.advance_monotonic(_CURRENT, manifest.version)

    def _delta_base(self, m: Manifest) -> int:
        return (
            m.__dict__["_base_version"]
            if isinstance(m, DeltaManifest)
            else m.version
        )

    def _structural_delta_ok(self, m: Manifest) -> bool:
        """True when :meth:`_swap_next` may write ``m``'s successor as a
        delta record: an anchored base (v>0) and a chain slot free
        (never when ``CHECKPOINT_INTERVAL`` is 0)."""
        # deltas already stacked on m's base, counting the one to write
        chain = m.version - self._delta_base(m) + 1
        return m.version > 0 and chain <= CHECKPOINT_INTERVAL

    def _swap_delta(self, delta: dict) -> None:
        """Log-structured manifest swap: write one O(changed)-sized delta
        record then advance CURRENT — the same :meth:`_claim_version`
        conditional-put guard as :meth:`_swap` (one shared per-version
        claim file), so a delta writer and a checkpoint writer racing on
        the same version collide loudly instead of both landing (ADVICE
        r9 lost-update fix).  Written only by :meth:`_swap_next`."""
        version = delta["version"]
        # legacy-layout belt: see _swap — never shadow a pre-r11 delta
        if self._mio.exists(f"v{version:06d}.delta.json"):
            raise RuntimeError(
                f"concurrent commit detected: manifest v{version} already "
                "exists as a legacy-named delta (another writer advanced "
                "the store)"
            )
        self._claim_version(version, "delta")
        # no fence here (unlike _swap): only the record serialization
        # separates the claim's conditional PUT from the manifest put,
        # and the SINGLE per-version name makes the manifest put itself
        # the arbiter — a steal in that window dies right here, loudly
        try:
            self._put_if_absent(
                f"v{version:06d}.json", json.dumps(delta, indent=1)
            )
        except FileExistsError as exc:
            raise RuntimeError(
                f"concurrent commit detected: manifest v{version} "
                "already exists (another writer advanced the store)"
            ) from exc
        self._mio.advance_monotonic(_CURRENT, version)  # see _swap

    def _swap_next(
        self,
        m: Manifest,
        *,
        op: str,
        adds: dict[str, list[Fragment]] | None = None,
        removes: dict[str, list[str]] | None = None,
        removes_rows: dict[str, dict[str, int]] | None = None,
        proj_updates: dict[str, dict] | None = None,
        txns: dict[str, int] | None = None,
        status: dict | None = None,
        schemas: dict[str, dict] | None = None,
        op_info: dict | None = None,
        checkpoint: bool = False,
    ) -> None:
        """Plan and swap the successor of manifest ``m`` from one change
        set — the single place every writer's encoding is decided.

        ``adds``/``removes`` are per-table fragments in / paths out
        (``removes_rows`` their manifest row counts, kept so
        ``table_rows`` stays O(tail) through takedowns); ``proj_updates``
        per-table projection update records (:func:`_apply_projection_updates`).
        ``txns``/``status``/``schemas`` default to ``m``'s.  Writes the
        O(changed) delta record while a chain slot is free, else (or
        with ``checkpoint=True``) the full successor checkpoint: base
        minus removes, plus adds.  A pure function of ``m`` and the
        already-written fragments, so :meth:`commit_with_retry` can
        re-plan against a newer ``m``."""
        adds = adds or {}
        removes = removes or {}
        proj_updates = proj_updates or {}
        txns = dict(m.txns) if txns is None else txns
        status = m.status if status is None else status
        schemas = dict(m.schemas) if schemas is None else schemas
        if not checkpoint and self._structural_delta_ok(m):
            # None of this touches m.tables, so a lazy/delta CURRENT
            # stays unhydrated — the ingest hot path never reads the
            # fragment list at all
            delta = {
                "version": m.version + 1,
                "base": self._delta_base(m),
                "op": op,
                **({"op_info": op_info} if op_info is not None else {}),
                "txns": txns,
                "status": status,
                "schemas": schemas,
                "adds": {t: [f.to_json() for f in fl] for t, fl in adds.items()},
            }
            if removes:
                delta["removes"] = {t: sorted(ps) for t, ps in removes.items()}
                delta["removes_rows"] = removes_rows or {}
            if proj_updates:
                delta["projections_delta"] = {
                    t: _proj_updates_to_json(upd) for t, upd in proj_updates.items()
                }
            self._swap_delta(delta)
            return
        tables = {t: list(fs) for t, fs in m.tables.items()}
        for t, ps in removes.items():
            gone = set(ps)
            tables[t] = [f for f in tables.get(t, []) if f.path not in gone]
        for t, fl in adds.items():
            tables.setdefault(t, []).extend(fl)
        projections = {t: dict(ps) for t, ps in m.projections.items()}
        for t, upd in proj_updates.items():
            projections[t] = _apply_projection_updates(projections.get(t, {}), upd)
        self._swap(
            Manifest(
                version=m.version + 1,
                txns=txns,
                status=status,
                op=op,
                op_info=op_info,
                tables=tables,
                schemas=schemas,
                projections=projections,
            )
        )

    # -- writes ------------------------------------------------------------

    def _build_fragment_blooms(self, table: str, frag: Fragment) -> None:
        """Bloom sidecars for the configured point-lookup columns: one
        column-pruned pyarrow pass over the fragment just written (reads
        only the indexed columns, dictionary pages mostly), bitset to a
        sidecar file, params into the fragment record.  Columns past the
        key cap or absent from the schema are skipped — degradation is
        "no bloom, scan as before", never wrong results."""
        from . import bloom as _bloom

        cols = self.bloom_columns.get(table, ())
        if not cols:
            return
        fdir = self.root / frag.path
        ds = pa_ds.dataset(str(fdir), format="parquet")
        present = [c for c in cols if c in ds.schema.names]
        if not present:
            return
        import pyarrow.compute as pc

        tbl = ds.to_table(columns=present)
        for col in present:
            values = pc.unique(tbl[col]).to_pylist()
            n_distinct = sum(1 for v in values if v is not None)
            if n_distinct == 0 or n_distinct > _bloom.MAX_KEYS_DEFAULT:
                continue
            bits, m, k, n = _bloom.build_bloom(values)
            _bloom.write_sidecar(fdir, col, bits)
            if frag.blooms is None:
                frag.blooms = {}
            frag.blooms[col] = {"m": m, "k": k, "n": n}

    def _build_fragment_dicts(self, table: str, frag: Fragment) -> None:
        """Inline distinct-value dictionaries for the configured
        low-cardinality columns: one column-pruned pyarrow pass (the
        values come straight off parquet dictionary pages).  Strings are
        lowercased — the engine-wide case-insensitive hex contract, same
        normalization as the bloom tier.  A fragment whose distinct count
        exceeds DICT_MAX_DISTINCT gets no dictionary (kept on every
        probe), so degradation can only cost a scan, never correctness."""
        cols = self.dict_columns.get(table, ())
        if not cols:
            return
        fdir = self.root / frag.path
        ds = pa_ds.dataset(str(fdir), format="parquet")
        present = [c for c in cols if c in ds.schema.names]
        if not present:
            return
        import pyarrow.compute as pc

        tbl = ds.to_table(columns=present)
        for col in present:
            values = [
                v for v in pc.unique(tbl[col]).to_pylist() if v is not None
            ]
            if not values or len(values) > DICT_MAX_DISTINCT:
                continue
            norm = sorted(
                v.lower() if isinstance(v, str) else v for v in values
            )
            if frag.dicts is None:
                frag.dicts = {}
            frag.dicts[col] = norm

    def _write_fragment(self, table: str, data) -> Fragment | None:
        """Materialize one immutable fragment dir from a commit write —
        a DataFrame (one Spark write), a ``pa.Table`` (one pyarrow part
        file, no Spark job; empty → no fragment) or a list of part files
        the caller staged under the store root (moved in, not rewritten)
        — then adopt it: stats from the parquet footers, no second data
        pass."""
        rel = f"data/{table}/frag-{uuid.uuid4().hex}"
        if isinstance(data, DataFrame):
            data.write.mode("overwrite").parquet(str(self.root / rel))
        elif isinstance(data, pa.Table):
            if data.num_rows == 0:
                return None
            write_arrow_part(self.root / rel, data)
        else:
            for part in data:
                self._dio.adopt_file(part, f"{rel}/{part.rsplit('/', 1)[-1]}")
        return self._stat_fragment_dir(table, rel)

    def _write_schema(self, data, frag: Fragment):
        """The Spark schema a commit write brings to schema evolution:
        the DataFrame's, else the one pyarrow wrote into the parts."""
        if isinstance(data, DataFrame):
            return data.schema
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(
            pa_ds.dataset(str(self.root / frag.path), format="parquet").schema
        )

    def _stat_fragment_dir(
        self, table: str, rel: str, *, key_column: str | None = None
    ) -> Fragment | None:
        """Adopt an already-materialized fragment directory: row count +
        block-range stats from the parquet footers, then the bloom/dict
        index tiers.  ``key_column`` additionally records the cluster-key
        range (projection fragments).  Removes the dir and returns None
        if empty."""
        ds = pa_ds.dataset(str(self.root / rel), format="parquet")
        rows = ds.count_rows()
        if rows == 0:
            self._dio.delete_dir(rel)
            return None
        frag = Fragment(path=rel, rows=rows)
        mds = [pq.read_metadata(piece) for piece in ds.files]

        def footer_range(column):
            ranges = [r for r in (self._footer_min_max(md, column) for md in mds)
                      if r[0] is not None]
            if not ranges:
                return None, None
            return min(r[0] for r in ranges), max(r[1] for r in ranges)

        frag.min_block, frag.max_block = footer_range("block_number")
        if key_column is not None:
            lo, hi = footer_range(key_column)
            if isinstance(lo, bytes):
                lo, hi = lo.decode("utf-8", "replace"), hi.decode("utf-8", "replace")
            frag.min_key, frag.max_key = lo, hi
        self._build_fragment_blooms(table, frag)
        self._build_fragment_dicts(table, frag)
        # recorded AFTER the sidecars so the manifest byte count equals
        # what the old filesystem walk measured (data + index files)
        frag.bytes = self._dio.dir_bytes(rel)
        return frag

    def _rewrite_fragment(
        self,
        table: str,
        path: str,
        keep,
        schema,
        *,
        dir_name: str | None = None,
        key_column: str | None = None,
    ) -> tuple[int, Fragment | None]:
        """The one row-level rewrite kernel (rollback, delete, upsert and
        the projection takedown): keep the rows of fragment ``path`` that
        ``keep(dataset)`` — a pyarrow expression — selects, in process,
        with no Spark job.  Returns ``(removed rows, result)``:

        - ``(0, None)`` — untouched: nothing written, the caller keeps
          the manifest reference (and its non-``derived`` status);
        - ``(n, None)`` — emptied: every row was removed;
        - ``(n, Fragment)`` — the survivors as a new ``derived`` fragment
          of one part file under ``data/<dir_name or table>/``, stats
          from its footer (``key_column`` as in
          :meth:`_stat_fragment_dir`).

        Counting reads only the columns ``keep`` names; the rewrite then
        streams batch by batch so a compacted ~1 GB fragment never sits
        in memory whole.  Each column is cast to its type in the read
        ``schema`` (the snapshot's Spark schema): a Spark-written
        fragment stores timestamps as INT96, which pyarrow reads as
        ``timestamp[ns]`` and would write back in a form Spark rejects
        (``PARQUET_COLUMN_DATA_TYPE_MISMATCH``)."""
        from pyspark.sql.pandas.types import to_arrow_schema

        ds = pa_ds.dataset(str(self.root / path), format="parquet")
        flt = keep(ds)
        rows = ds.count_rows()
        kept = ds.count_rows(filter=flt)
        if kept == rows or kept == 0:
            return rows - kept, None
        want = {} if schema is None else {
            f.name: f.type for f in to_arrow_schema(schema)
        }
        out_schema = pa.schema(
            [f.with_type(want.get(f.name, f.type)) for f in ds.schema]
        )
        rel = f"data/{dir_name or table}/frag-{uuid.uuid4().hex}"
        out = self.root / rel
        out.mkdir(parents=True)
        part = out / f"part-{uuid.uuid4().hex}.parquet"
        with pq.ParquetWriter(part, out_schema) as w:
            for batch in ds.to_batches(
                filter=flt, batch_readahead=1, fragment_readahead=1
            ):
                w.write_batch(
                    pa.RecordBatch.from_arrays(
                        [c.cast(f.type) for c, f in zip(batch.columns, out_schema)],
                        schema=out_schema,
                    )
                )
        frag = self._stat_fragment_dir(table, rel, key_column=key_column)
        frag.derived = True  # a rewrite holds no first-seen rows
        return rows - kept, frag

    def commit(
        self,
        writes: dict[str, "DataFrame | pa.Table | list[str]"],
        *,
        status: dict | None = None,
        txn_app_id: str | None = None,
        txn_version: int | None = None,
    ) -> bool:
        """Atomically append fragments for any subset of tables (+ the
        checkpoint).  Returns False if (txn_app_id, txn_version) was
        already committed — the idempotent crash-replay path.  Each
        write is a DataFrame, a ``pa.Table`` (written without Spark) or
        a list of root-relative parquet part files already staged by
        the caller (see :meth:`_write_fragment`).

        Loses a concurrent-writer race LOUDLY (RuntimeError naming the
        conflict) — single-writer ingest never sees this; use
        :meth:`commit_with_retry` where well-behaved concurrent
        committers should all make progress."""
        m = self.current_manifest()
        if self._txn_replayed(m, txn_app_id, txn_version):
            return False
        items, frags_out = self._write_commit_fragments(writes)
        self._plan_and_swap_commit(
            m, items, frags_out, status, txn_app_id, txn_version
        )
        return True

    def commit_with_retry(
        self,
        writes: dict[str, "DataFrame | pa.Table | list[str]"],
        *,
        status: dict | None = None,
        txn_app_id: str | None = None,
        txn_version: int | None = None,
        max_attempts: int = 8,
        backoff_seconds: float = 0.05,
    ) -> bool:
        """:meth:`commit` with optimistic retry-with-rebase (VERDICT r11
        item 3): where plain ``commit`` turns a lost race into a loud
        RuntimeError and leaves the retry to the caller, this bounded
        loop lets two well-behaved concurrent committers BOTH make
        progress.

        Shape: the fragment files are written ONCE — they are immutable,
        UUID-named and version-independent, so a rebase reuses them —
        and only the cheap manifest planning re-runs per attempt:
        re-read CURRENT, re-merge txns/schemas/adds against the NEW
        state, re-claim the (new) next version.  Safety is entirely the
        claim protocol's; this adds LIVENESS only.  Each attempt
        re-checks the txn watermark against the freshly read manifest,
        so replays stay idempotent even when the competing writer is
        another handle of the same ``txn_app_id``.

        Retryable losses are exactly the protocol's race signals
        ("concurrent commit detected", "commit forfeited"); any other
        failure propagates unchanged.  After ``max_attempts`` lost races
        raises with the last cause chained — bounded, never a livelock.
        Backoff is linear in the attempt number: the conflict window is
        one manifest put + one pointer write, so waiting longer than a
        few of those is wasted latency."""
        m = self.current_manifest()
        if self._txn_replayed(m, txn_app_id, txn_version):
            return False
        items, frags_out = self._write_commit_fragments(writes)
        last: RuntimeError | None = None
        for attempt in range(max_attempts):
            if attempt:
                _time_mod.sleep(backoff_seconds * attempt)
                m = self.current_manifest()
                if self._txn_replayed(m, txn_app_id, txn_version):
                    return False
            try:
                self._plan_and_swap_commit(
                    m, items, frags_out, status, txn_app_id, txn_version
                )
                return True
            except RuntimeError as e:
                msg = str(e)
                if (
                    "concurrent commit detected" not in msg
                    and "commit forfeited" not in msg
                ):
                    raise
                last = e
        raise RuntimeError(
            f"commit_with_retry: lost {max_attempts} consecutive races "
            "for the next manifest version; giving up (raise "
            "max_attempts or serialize the writers)"
        ) from last

    @staticmethod
    def _txn_replayed(
        m: Manifest, txn_app_id: str | None, txn_version: int | None
    ) -> bool:
        return (
            txn_app_id is not None
            and txn_version is not None
            and m.txns.get(txn_app_id, -1) >= txn_version
        )

    def _touch_or_fail(self, frags) -> None:
        """Data-tier liveness heartbeat + loud vanish guard, for EVERY
        writer path that swaps a manifest referencing not-yet-referenced
        fragment dirs (r12 review: commit got this first; compact,
        rollback, delete/upsert and the projection builders have the
        same window — fragments adopted long before the swap, e.g. ten
        compacted fragments each followed by bloom/dict indexing).

        Vacuum's orphan floor ages a never-referenced dir from its LAST
        touch, so re-arming here means the envelope only has to outlast
        the final planning stretch, not the whole op.  A dir a past
        floor expiry already cost us — or that a reclaim racing the
        touch stranded as a marker-only prefix (zero data bytes) —
        fails the op LOUDLY before the swap could acknowledge missing
        data.  Check-then-touch: a touch must never recreate a
        reclaimed prefix.  Accepts Fragment objects (None entries
        skipped) or raw path strings."""
        for frag in frags:
            if frag is None:
                continue
            path = getattr(frag, "path", frag)
            try:
                self._dio.touch_dir(path)
                empty = self._dio.dir_bytes(path) == 0
            except (OSError, FileNotFoundError) as exc:
                raise RuntimeError(
                    f"fragments vanished before the swap ({path}): a "
                    "vacuum reclaimed in-flight data past the liveness "
                    "envelope — raise claim_grace_seconds above the "
                    "longest write-to-swap stretch and rerun the "
                    "operation"
                ) from exc
            if empty:
                raise RuntimeError(
                    f"fragment {path} holds no data bytes before the "
                    "swap: a reclaim raced the liveness touch — rerun "
                    "the operation"
                )

    def _write_commit_fragments(self, writes: dict) -> tuple[list, list]:
        # The per-table fragment writes are independent (Spark jobs for
        # DataFrames); run them concurrently (Spark's scheduler
        # interleaves them across cores) so a 4-table batch costs ~one
        # write's wall time, not four.  Atomicity is untouched: nothing
        # is visible until the single manifest swap, and any write
        # failure raises before the swap (tip-cycle timings:
        # ``perfbench/run.py --workload index_lifecycle``).
        items = list(writes.items())
        return items, _pool_map(lambda tv: self._write_fragment(*tv), items)

    def _plan_and_swap_commit(
        self,
        m: Manifest,
        items: list,
        frags_out: list,
        status: dict | None,
        txn_app_id: str | None,
        txn_version: int | None,
    ) -> None:
        """Merge the written fragments into a successor of manifest ``m``
        and swap — the re-runnable half of :meth:`commit` (everything
        here is a pure function of ``m`` + the immutable fragment list,
        which is what makes :meth:`commit_with_retry`'s rebase sound)."""
        self._touch_or_fail(frags_out)
        txns = dict(m.txns)
        if txn_app_id is not None and txn_version is not None:
            txns[txn_app_id] = txn_version
        schemas = dict(m.schemas)
        adds: dict[str, list[Fragment]] = {}
        for (table, data), frag in zip(items, frags_out):
            if frag is not None:
                adds.setdefault(table, []).append(frag)
                # schema evolution lands WITH its data, inside the same
                # atomic swap: readers see new columns and new rows
                # together or neither
                evolved = _evolve_schema(
                    self._read_schema(m, table), self._write_schema(data, frag)
                )
                schemas[table] = evolved.jsonValue()
        # first-ever swap checkpoints (the v>0 term of the shared gate):
        # a v1 full manifest is O(batch) anyway and anchors every chain
        self._swap_next(
            m, op="commit", adds=adds, txns=txns, status=status, schemas=schemas
        )

    def rollback_from(self, height: int, *, status: dict | None = None) -> int:
        """Reorg retraction: remove all rows with block_number >= height
        from every table, in ONE atomic swap (≙ the reference's three
        DELETEs inside a txn, src/db.rs:34-50).  Fragments wholly ≥ height
        are dropped by manifest edit alone; straddling fragments go
        through the rewrite kernel with ``block_number < height``
        (pyarrow, no Spark job).  Returns fragments touched."""
        import pyarrow.compute as pc

        below = pc.field("block_number") < height
        m = self.current_manifest()
        removes: dict[str, list[str]] = {}
        adds: dict[str, list[Fragment]] = {}
        straddling: dict[str, list[Fragment]] = {}
        for table, frags in m.tables.items():
            for frag in frags:
                if frag.max_block is None or frag.max_block < height:
                    continue  # wholly below the fork: kept by reference
                if frag.min_block is not None and frag.min_block >= height:
                    # wholly at/above the fork: manifest edit only
                    removes.setdefault(table, []).append(frag.path)
                else:
                    straddling.setdefault(table, []).append(frag)
        # every table's straddling fragments share one pool: a tip reorg
        # rewrites one fragment per table, concurrently
        for table, hits in self._rewrite_hits(m, straddling, lambda ds: below).items():
            for frag, _, new in hits:
                removes.setdefault(table, []).append(frag.path)
                if new is not None:
                    adds.setdefault(table, []).append(new)
        self._touch_or_fail([f for fl in adds.values() for f in fl])
        # Regress idempotency watermarks past the fork: a watermark is
        # "last committed block version", and versions ≥ height were just
        # retracted — leaving them high makes every re-ingest batch whose
        # to_block ≤ old-watermark a silent no-op, livelocking any reorg
        # deeper than BLOCKS_PER_BATCH (found by the deep-reorg property
        # test; depth ≤ batch size masked it because the single re-ingest
        # batch overtopped the stale watermark).
        self._swap_next(
            m,
            op="rollback",
            adds=adds,
            removes=removes,
            txns={app: min(v, height - 1) for app, v in m.txns.items()},
            status=status,
            checkpoint=True,
        )
        return sum(map(len, removes.values()))

    def _rewrite_hits(
        self, m: Manifest, todo: dict[str, list[Fragment]], keep, **out
    ) -> dict[str, list[tuple[Fragment, int, Fragment | None]]]:
        """:meth:`_rewrite_fragment` over every fragment of ``todo`` (by
        table, each cast to its table's read schema in ``m``) on one
        thread pool: ``{table: [(old fragment, removed rows, survivors
        or None)]}`` for the fragments that held matches; untouched ones
        are left out."""
        schemas = {t: self._read_schema(m, t) for t in todo}
        jobs = [(t, f) for t, frags in todo.items() for f in frags]
        done = _pool_map(
            lambda tf: self._rewrite_fragment(
                tf[0], tf[1].path, keep, schemas[tf[0]], **out
            ),
            jobs,
        )
        hits: dict[str, list] = {}
        for (t, f), (n, new) in zip(jobs, done):
            if n:
                hits.setdefault(t, []).append((f, n, new))
        return hits

    def delete_equals(self, table: str, column: str, value) -> dict:
        """Targeted row deletion by key — the "remove this document /
        address everywhere" operation a training-data pipeline needs
        (takedowns, right-to-be-forgotten, poisoned-source removal).

        Cost is bounded by the BLOOM tier, not table size: fragments
        whose bloom definitely excludes the key are kept by manifest
        reference alone (zero I/O); only bloom-candidate fragments are
        scanned, and of those only the ones that actually contain the
        key are rewritten (a bloom false positive costs a key-column
        scan, not a rewrite).  Scans and rewrites run in process through
        the pyarrow rewrite kernel — no Spark job.  At 100 TB a
        single-key delete touches a handful of fragments instead of
        rewriting the table.  One atomic manifest swap; old fragments
        remain for time travel until vacuum.

        Comparison is case-insensitive for strings (:class:`KeyMatch`),
        matching the bloom normalization and the engine's hex semantics.

        **Projection maintenance (compliance contract):** clustered
        projections are physical COPIES of the base rows, so a delete
        that only rewrote the base would leave the deleted key's data on
        disk indefinitely — the projection would merely go stale and
        vacuum spares its still-referenced fragments.  This method
        therefore purges the key from every projection of the table in
        the SAME atomic swap: covers are remapped to the rewritten base
        paths (the projection stays fresh and readable), and only the
        projection fragments that might contain the key (bloom-pruned)
        are scanned/rewritten — O(1) fragments, since the projection is
        clustered.  The next :meth:`vacuum` then reclaims every
        pre-delete copy.  Returns ``{"candidates": n, "rewritten": n,
        "deleted_rows": n, "projection_fragments_rewritten": n}``."""
        return self._takedown(
            "delete", {"table": table, "column": column, "value": value}
        )

    def delete_in(
        self, table: str, column: str, values, *, max_keys: int = 65536
    ) -> dict:
        """Batched compliance delete — :meth:`delete_equals` for a KEY
        SET, in ONE atomic version: a takedown list of ten thousand
        doc_ids costs one manifest swap and no Spark job (the in-process
        rewrite kernel over the index-pruned candidates), not ten
        thousand versions each with their own scan.  Same index-tier
        pruning (ONE list-probe per fragment — dict/bloom take IN-lists
        natively), same NULL-safe survivor semantics, same projection
        purge, and the changefeed replays the whole batch from the
        recorded key set exactly like an upsert's superseded versions
        (``op_info["values"]`` → :class:`KeyMatch`).  ``values`` is
        capped at ``max_keys`` — this is the delta regime; rewrite the
        table for bulk erasure."""
        vals = list(values)
        if not vals:
            return {"candidates": 0, "rewritten": 0, "deleted_rows": 0,
                    "projection_fragments_rewritten": 0}
        if len(vals) > max_keys:
            raise ValueError(
                f"delete_in carries {len(vals)} keys > max_keys={max_keys}: "
                "batched deletes are for delta-sized takedown lists; "
                "rewrite the table for bulk erasure"
            )
        return self._takedown(
            "delete", {"table": table, "column": column, "values": vals}
        )

    def _takedown(
        self, op: str, op_info: dict, *, batch: "pa.Table | None" = None,
        batch_schema=None,
    ) -> dict:
        """Shared body of the deletes and :meth:`upsert`: the rows the
        recorded ``op_info`` matches (:class:`KeyMatch`) leave the table
        and its projections, and upsert's ``batch`` lands, in ONE swap.
        The index tiers prune the candidates; the rewrite kernel scans
        them and rewrites the ones holding matches.  Fragments the tiers
        exclude, and bloom false positives, stay by manifest reference.
        The delta is O(touched): removed paths + rewritten survivors,
        ``op``/``op_info`` for changefeed replay, projection changes."""
        table = op_info["table"]
        match = KeyMatch.recorded(op_info)
        probe = match.probe()
        m = self.current_manifest()
        # pruned-path listing: stays unhydrated on a delta/lazy CURRENT
        candidates = [
            f for f in self.fragments_for(table, manifest=m)
            if probe is None or self._frag_keeps(f, probe)
        ]
        hit = self._rewrite_hits(m, {table: candidates}, match.keep).get(table, [])
        replaced = {f.path: None if new is None else new.path for f, _, new in hit}
        adds = [new for _, _, new in hit if new is not None]
        stats = {
            "candidates": len(candidates),
            "rewritten": len(hit),
            "deleted_rows": sum(n for _, n, _ in hit),
            "projection_fragments_rewritten": 0,
        }
        if batch is not None:
            batch_frag = self._write_fragment(table, batch)
            if batch_frag is not None:
                adds.append(batch_frag)
        if not replaced and not adds:
            return stats  # nothing changed — don't burn a version
        # projection replicas rewrite BEFORE the swap (upsert's batch
        # fragment is NOT covered: it lands as projection lag, drained by
        # refresh_projection, same as a commit's)
        proj_updates: dict[str, dict] = {}
        for name, proj in (m.projections.get(table) or {}).items():
            if not any(p in replaced for p in proj["covers"]):
                continue  # projection covers only untouched fragments
            phit = self._rewrite_hits(
                m,
                {table: [pf for pf in proj["fragments"]
                         if probe is None or self._frag_keeps(pf, probe)]},
                match.keep,
                dir_name=f"{table}__proj__{name}",
                key_column=proj["cluster_by"][0],
            ).get(table, [])
            stats["projection_fragments_rewritten"] += len(phit)
            proj_updates[name] = {
                "covers_map": {
                    p: replaced[p] for p in proj["covers"] if p in replaced
                },
                "pfrags_remove": [pf.path for pf, _, _ in phit],
                "pfrags_add": [new for _, _, new in phit if new is not None],
            }
        self._touch_or_fail(
            adds + [f for upd in proj_updates.values() for f in upd["pfrags_add"]]
        )
        schemas = None
        if batch_schema is not None:
            # schema evolution rides along like a commit's
            schemas = dict(m.schemas)
            schemas[table] = _evolve_schema(
                self._read_schema(m, table), batch_schema
            ).jsonValue()
        self._swap_next(
            m,
            op=op,
            op_info=op_info,
            adds={table: adds},
            removes={table: list(replaced)},
            removes_rows={table: {f.path: f.rows for f, _, _ in hit}},
            proj_updates={table: proj_updates} if proj_updates else None,
            schemas=schemas,
        )
        return stats

    def upsert(
        self, table: str, df: DataFrame, key_col: str, *, max_keys: int = 65536
    ) -> dict:
        """Key-upsert (the Delta ``MERGE WHEN MATCHED UPDATE / WHEN NOT
        MATCHED INSERT`` shape): every row of ``df`` replaces the rows
        sharing its ``key_col`` value, or inserts if the key is new —
        metadata corrections, re-scored documents, refreshed embeddings.
        ONE atomic manifest swap: old versions removed and new rows
        visible together or neither.

        Scale contract: ``df`` is a DELTA batch (the incremental
        regime), never corpus-sized — it is collected once to the driver
        as Arrow (the one Spark job), capped at ``max_keys`` rows.  That
        table is the duplicate-key guard's input, the key list, and the
        batch fragment, written the way a tip commit writes.  Cost is
        then bounded by the index tiers exactly like
        :meth:`delete_equals`: fragments whose blooms/dicts exclude
        every key are kept by manifest reference (zero I/O), bloom false
        positives cost a key-column scan, and only fragments actually
        holding an upserted key are rewritten, in process
        (``derived=True`` — the changefeed never re-delivers surviving
        rows).  The batch lands as one fresh non-derived fragment, so
        the changefeed delivers the new versions as inserts; with
        ``include_deletes=True`` it also replays the superseded old
        versions from the retained pre-upsert fragments (op_info records
        the key set), so a version-ordered replay — deletes before
        inserts within a version — converges even for consumers that
        don't key-match.

        Projections of the table are purged of the upserted keys in the
        same swap (the delete_equals compliance contract); the new rows
        reach projection readers through the LSM delta-union until the
        next refresh.  ``df`` must carry at most one row per key
        (Delta MERGE's multiple-match rule), enforced here.

        Returns ``{"keys": n, "candidates": n, "rewritten": n,
        "replaced_rows": n, "inserted_rows": n,
        "projection_fragments_rewritten": n}``."""
        from pyspark.sql.types import StringType

        batch = df.limit(max_keys + 1).toArrow()
        if batch.num_rows > max_keys:
            raise ValueError(
                f"upsert batch carries more than max_keys={max_keys} rows: "
                "upsert is for delta batches; rewrite the table for bulk loads"
            )
        keys = batch.column(key_col).to_pylist()
        # the guard counts keys with the SAME semantics KeyMatch matches
        # them: string keys compare case-insensitively, so 'Key-A' and
        # 'key-a' are ONE key — counting them as two would let both rows
        # insert and leave two live versions (ADVICE r6); a NULL key
        # matches nothing, so it counts as no key
        n_keys = len({
            k.lower() if isinstance(k, str) else k for k in keys if k is not None
        })
        if n_keys != len(keys):
            key_is_str = isinstance(df.schema[key_col].dataType, StringType)
            raise ValueError(
                f"upsert batch has {len(keys)} rows but {n_keys} distinct "
                f"{key_col} values"
                + (" (string keys compare case-insensitively, matching "
                   "the upsert match predicate)" if key_is_str else "")
                + " — one row per key required (resolve winners "
                "upstream, e.g. dedup_survivors)"
            )
        stats = self._takedown(
            "upsert",
            {"table": table, "column": key_col, "values": keys},
            batch=batch,
            batch_schema=df.schema,
        )
        stats["replaced_rows"] = stats.pop("deleted_rows")
        return {"keys": n_keys, "inserted_rows": batch.num_rows, **stats}

    def set_status(self, status: dict) -> None:
        """Checkpoint-only upsert (O-9) when no data moved."""
        # a status-only swap moves zero fragments — the O(1) delta
        self._swap_next(self.current_manifest(), op="status", status=status)

    # -- reads -------------------------------------------------------------

    def read(
        self,
        table: str,
        *,
        min_block: int | None = None,
        max_block: int | None = None,
        version: int | None = None,
        equals: dict[str, Any] | None = None,
    ) -> DataFrame:
        """Snapshot of a table as a DataFrame — CURRENT by default, or
        any retained manifest ``version`` (time travel: pre-reorg /
        pre-compaction states stay readable until vacuumed, since
        fragments are immutable and only unreferenced ones are
        reclaimed).  Optional block bounds prune fragments manifest-side
        before Spark lists a single file (the coarse tier above parquet
        row-group pruning).

        ``equals={"contract_address": addr}`` additionally prunes via
        per-fragment bloom sidecars (store/bloom.py): fragments whose
        bloom definitely excludes the key are dropped — the index tier
        for hash-like point lookups where min/max stats prune nothing.
        Like the block bounds, this is PRUNING ONLY: the caller still
        applies the actual predicate (a bloom false positive just means
        one extra fragment reaches Spark's scan, where parquet pushdown
        filters it).  Fragments with no bloom for the column are kept."""
        m, frags = self.prune_fragments(
            table, min_block=min_block, max_block=max_block,
            equals=equals, version=version,
        )
        # evolved schema comes from the MANIFEST, not from merging file
        # footers: at 100 TB, mergeSchema would read N footers before the
        # first byte of data; here schema resolution is O(1) and
        # versioned with the snapshot (time travel sees the schema as of
        # that version).  Fragments missing an evolved column read it as
        # NULL under the explicit schema.
        schema = self._read_schema(m, table)
        if not frags:
            return self.spark.createDataFrame([], schema) if schema is not None else (
                self.spark.range(0).drop("id")
            )
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*[str(self.root / f.path) for f in frags])

    def changes(
        self,
        table: str,
        *,
        since_version: int,
        to_version: int | None = None,
        allow_reorged: bool = False,
        include_deletes: bool = False,
    ) -> DataFrame:
        """Append-only changefeed: rows first added to ``table`` AFTER
        manifest ``since_version``, up to ``to_version`` (default
        current) — the incremental-consumption primitive a downstream
        training pipeline needs (process only this round's new documents,
        not the table).

        Exactly-once for append-shaped windows: each version's NEW
        non-``derived`` fragments are collected (once, by path), so
        background maintenance never re-delivers — compaction and
        rollback/delete rewrites produce fragments holding only
        already-seen rows and are skipped, and a fragment appended then
        compacted away INSIDE the window is still delivered from the
        intermediate manifest (immutable fragments + retained manifests
        make every intermediate state readable; the feed horizon is
        therefore vacuum's manifest retention, as in Delta/Iceberg CDC).

        **Deletions** (``include_deletes=True``): the feed additionally
        carries every row removed by a :meth:`delete_equals` inside the
        window — the compliance primitive a downstream training pipeline
        needs (a takedown upstream must propagate to derived state).
        Rows gain two metadata columns: ``_change_type``
        (``insert``/``delete``) and ``_commit_version`` (the manifest
        version that added/removed them), so a consumer replays in
        version order and its state provably converges to a fresh read
        (tests/test_changefeed.py).  No tombstone files exist: each
        delete version records its predicate in the manifest
        (``op_info``) and the deleted rows are recovered by applying it
        to the REPLACED pre-delete fragments — immutable and retained
        until vacuum, so the delete feed's horizon is the same manifest
        retention as the insert feed's.  The default
        (``include_deletes=False``) output is byte-identical to the
        insert-only feed of old: no metadata columns, no delete rows.

        Two honest caveats, by design:

        - **reorg retractions are not deletes**: a rollback erases rows
          *as if never ingested* (fork semantics, no recorded predicate)
          rather than deleting them from history, so a window containing
          a ``rollback`` version raises unless ``allow_reorged=True``
          (consumers acknowledge they dedupe by block hash / re-verify
          the fork tail) — with or without ``include_deletes``;
        - re-ingested post-fork rows ARE re-delivered (new fragments):
          at-least-once across forks, the same contract the reference's
          API consumers live with (reorged data vanishes from
          queries)."""
        to = (
            self.current_manifest().version if to_version is None else to_version
        )
        if since_version > to:
            raise ValueError(f"since_version {since_version} > to_version {to}")
        inserts: list[tuple[int, list[str]]] = []  # (version, new paths)
        deletes: list[tuple[int, list[str], dict]] = []  # (v, removed, pred)
        window = range(since_version + 1, to + 1)
        # read each window version's record once (small JSON): the fast
        # path applies iff every one is a log-structured delta ("base"
        # in the record) — content, not filename, decides, matching
        # manifest_at's single-name dispatch
        recs: list[dict] = []
        for v in window:
            dv = self._read_version_record(v)
            if dv is None or "base" not in dv:
                recs = []
                break
            recs.append(dv)
        if window and recs:
            # TAIL FAST PATH — the steady state of a streaming consumer
            # following an appending store: every window version is a
            # log-structured delta, so the change set is exactly the
            # union of the deltas' recorded adds (plus, for
            # include_deletes, the delete/upsert deltas' recorded
            # removed paths + predicate).  Cost O(window), with NO
            # hydration of the base version's fragment list — the slow
            # path below pays O(total fragments) just to build its
            # `seen` set, which at millions of fragments would dominate
            # every consumption tick.  Fragment paths are uuid-fresh
            # per commit, so the adds are new by construction (the set
            # guard stays for defense).  A rollback is always a
            # checkpoint, so the reorg guard can't be bypassed here.
            seen_fast: set[str] = set()
            for v, d in zip(window, recs):
                if (
                    include_deletes
                    and d.get("op") in ("delete", "upsert")
                    and (d.get("op_info") or {}).get("table") == table
                ):
                    removed = sorted(d.get("removes", {}).get(table, []))
                    if removed:
                        deletes.append((v, removed, d["op_info"]))
                v_new = [
                    f["path"]
                    for f in d.get("adds", {}).get(table, [])
                    if not f.get("derived") and f["path"] not in seen_fast
                ]
                seen_fast.update(v_new)
                if v_new:
                    inserts.append((v, v_new))
            return self._emit_changes(
                table, to, inserts, deletes, include_deletes
            )
        # version 0 is the implicit empty store — "consume from genesis"
        base = Manifest() if since_version == 0 else self.manifest_at(since_version)
        seen = {f.path for f in base.tables.get(table, [])}
        prev_paths = set(seen)
        for v in window:
            m = self.manifest_at(v)
            if m.op == "rollback" and not allow_reorged:
                raise RuntimeError(
                    f"changes window ({since_version}, {to}] contains a reorg "
                    f"rollback at version {v}: rows may be retracted and "
                    "re-delivered across the fork; pass allow_reorged=True "
                    "to consume at-least-once"
                )
            if isinstance(m, DeltaManifest) and m.__dict__.get("_hydrated") is None:
                # log-structured version: its recorded adds/removes ARE
                # the change set — no per-version fragment-list
                # hydration.  delete/upsert deltas (r9) carry their
                # replaced paths explicitly, so the replay needs no
                # before/after path-set diff.
                last_removes = m.__dict__.get("_last_removes", {}).get(
                    table, set()
                )
                if (
                    include_deletes
                    and m.op in ("delete", "upsert")
                    and m.op_info is not None
                    and m.op_info.get("table") == table
                ):
                    removed = sorted(p for p in last_removes if p in prev_paths)
                    if removed:
                        deletes.append((v, removed, m.op_info))
                prev_paths -= last_removes
                v_new = []
                for frag in m.__dict__["_last_adds"].get(table, []):
                    prev_paths.add(frag.path)
                    if frag.path in seen:
                        continue
                    seen.add(frag.path)
                    if not frag.derived:
                        v_new.append(frag.path)
                if v_new:
                    inserts.append((v, v_new))
                continue
            cur_paths = {f.path for f in m.tables.get(table, [])}
            # upserts replay like deletes: the superseded old versions
            # come from the replaced pre-upsert fragments via the
            # recorded key set (the new versions arrive as ordinary
            # inserts from the batch fragment in the same version)
            if (
                include_deletes
                and m.op in ("delete", "upsert")
                and m.op_info is not None
                and m.op_info.get("table") == table
            ):
                removed = sorted(prev_paths - cur_paths)
                if removed:
                    deletes.append((v, removed, m.op_info))
            prev_paths = cur_paths
            v_new = []
            for frag in m.tables.get(table, []):
                if frag.path in seen:
                    continue
                seen.add(frag.path)
                if not frag.derived:
                    v_new.append(frag.path)
            if v_new:
                inserts.append((v, v_new))
        return self._emit_changes(table, to, inserts, deletes, include_deletes)

    def _emit_changes(
        self,
        table: str,
        to: int,
        inserts: list[tuple[int, list[str]]],
        deletes: list[tuple[int, list[str], dict]],
        include_deletes: bool,
    ) -> DataFrame:
        """Shared emission tail for :meth:`changes` (both the delta-tail
        fast path and the generic version walk land here)."""
        from functools import reduce

        from pyspark.sql import functions as F

        new_paths = [p for _, paths in inserts for p in paths]
        schema = self._read_schema(
            Manifest() if to == 0 else self.manifest_at(to), table
        )

        def _read(paths: list[str]) -> DataFrame:
            reader = self.spark.read
            if schema is not None:
                reader = reader.schema(schema)
            return reader.parquet(*[str(self.root / p) for p in paths])

        if not include_deletes:
            # insert-only default: byte-identical to the original feed
            if not new_paths:
                return (
                    self.spark.createDataFrame([], schema)
                    if schema is not None
                    else self.spark.range(0).drop("id")
                )
            return _read(new_paths)
        parts = [
            _read(paths)
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(v))
            for v, paths in inserts
        ] + [
            # deleted rows = the recorded predicate applied to the
            # replaced pre-delete fragments (rows that did NOT match
            # went into the derived rewrite and are not re-delivered)
            _read(paths)
            .filter(KeyMatch.recorded(info).spark())
            .withColumn("_change_type", F.lit("delete"))
            .withColumn("_commit_version", F.lit(v))
            for v, paths, info in deletes
        ]
        if not parts:
            empty = (
                self.spark.createDataFrame([], schema)
                if schema is not None
                else self.spark.range(0).drop("id")
            )
            return empty.withColumn(
                "_change_type", F.lit("insert")
            ).withColumn("_commit_version", F.lit(0))
        return reduce(lambda a, b: a.unionByName(b), parts)

    def prune_fragments(
        self,
        table: str,
        *,
        min_block: int | None = None,
        max_block: int | None = None,
        equals: dict[str, Any] | None = None,
        manifest: Manifest | None = None,
        version: int | None = None,
    ) -> "tuple[Manifest, list[Fragment]]":
        """Full index-tier fragment pruning — manifest min/max block
        bounds, then the inline-dictionary and bloom equality probes —
        shared by the Spark :meth:`read` path and the Arrow serving
        tier (``serving.py``), so both access paths prune with the SAME
        physical-design tiers by construction.  PRUNING ONLY: the
        caller still applies the real predicate.  Returns the resolved
        manifest alongside the survivors so callers can read the
        versioned schema without a second CURRENT resolution."""
        m = manifest
        if m is None:
            m = (
                self.current_manifest()
                if version is None
                else self.manifest_at(version)
            )
        frags = self.fragments_for(
            table, min_block=min_block, max_block=max_block, manifest=m
        )
        if equals:
            frags = [f for f in frags if self._frag_keeps(f, equals)]
        return m, frags

    def fragments_for(
        self,
        table: str,
        *,
        min_block: int | None = None,
        max_block: int | None = None,
        manifest: Manifest | None = None,
        version: int | None = None,
    ) -> list[Fragment]:
        """Block-bounded fragment pruning, manifest-side.  For a parquet
        (LazyManifest) fragment list that hasn't been hydrated, the
        bounds filter the memoized columnar sidecar and only surviving
        fragment ROWS are materialized (tools/manifest_bench.py).
        Hydrated / JSON manifests prune the in-memory list as before."""
        m = manifest
        if m is None:
            m = self.current_manifest() if version is None else self.manifest_at(version)
        if isinstance(m, DeltaManifest) and m.__dict__.get("_hydrated") is None:
            # prune the base checkpoint through ITS fast path (columnar
            # filter when lazy), then apply the bounded delta tail in
            # memory — never hydrates the full fragment list
            out = [
                f
                for f in self.fragments_for(
                    table,
                    min_block=min_block,
                    max_block=max_block,
                    manifest=m.__dict__["_base"],
                )
                if f.path not in m.__dict__["_removes"].get(table, ())
            ]
            for f in m.__dict__["_adds"].get(table, []):
                if (
                    min_block is not None
                    and f.max_block is not None
                    and f.max_block < min_block
                ):
                    continue
                if (
                    max_block is not None
                    and f.min_block is not None
                    and f.min_block > max_block
                ):
                    continue
                out.append(f)
            return out
        if isinstance(m, LazyManifest) and m.__dict__.get("_hydrated") is None:
            import pyarrow.compute as pc

            flt = pc.field("table") == table
            if min_block is not None:
                flt = flt & (
                    pc.field("max_block").is_null()
                    | (pc.field("max_block") >= min_block)
                )
            if max_block is not None:
                flt = flt & (
                    pc.field("min_block").is_null()
                    | (pc.field("min_block") <= max_block)
                )
            ds = m.__dict__["_pq_ds"]()
            return [
                _fragment_from_fraglist_row(r)
                for r in ds.to_table(filter=flt).to_pylist()
            ]
        frags = m.tables.get(table, [])
        if min_block is not None:
            frags = [f for f in frags if f.max_block is None or f.max_block >= min_block]
        if max_block is not None:
            frags = [f for f in frags if f.min_block is None or f.min_block <= max_block]
        return frags

    def _frag_keeps(self, frag: Fragment, equals: dict[str, Any]) -> bool:
        """Combined index-tier probe for equality predicates: exact
        inline dictionaries first (zero I/O, no false positives), bloom
        sidecars second (few-KB read, ~0.8 % false positives).  Either
        tier saying "definitely absent" drops the fragment; both are
        pruning-only, so the caller still applies the real predicate."""
        return self._dict_keeps(frag, equals) and self._bloom_keeps(frag, equals)

    def _dict_keeps(self, frag: Fragment, equals: dict[str, Any]) -> bool:
        """True unless an inline dictionary definitely excludes a probed
        key.  NULL probes and undictionaried columns keep the fragment;
        a list/tuple probe (IN-list) keeps it if ANY member is present."""
        if not frag.dicts:
            return True
        for col, value in equals.items():
            vals = frag.dicts.get(col)
            if vals is None or value is None:
                continue
            probe = value if isinstance(value, (list, tuple)) else (value,)
            norm = {
                v.lower() if isinstance(v, str) else v
                for v in probe
                if v is not None
            }
            if norm and not (norm & set(vals)):
                return False
        return True

    def _bloom_keeps(self, frag: Fragment, equals: dict[str, Any]) -> bool:
        """True unless some bloom definitely excludes a probed key.  A
        NULL probe keeps the fragment (blooms only index non-NULL keys);
        a missing sidecar keeps it (conservative)."""
        from . import bloom as _bloom

        if not frag.blooms:
            return True
        fdir = self.root / frag.path
        for col, value in equals.items():
            params = frag.blooms.get(col)
            if params is None or value is None:
                continue
            ck = (frag.path, col)
            bits = self._bloom_sidecar_cache.get(ck)
            if bits is None:
                try:
                    bits = _bloom.read_sidecar(fdir, col)
                except OSError:
                    continue
                self._bloom_sidecar_cache[ck] = bits
                if len(self._bloom_sidecar_cache) > self._bloom_sidecar_cache_max:
                    self._bloom_sidecar_cache.popitem(last=False)
            else:
                self._bloom_sidecar_cache.move_to_end(ck)
            probe = value if isinstance(value, (list, tuple)) else (value,)
            if all(
                v is not None
                and not _bloom.might_contain(bits, params["m"], params["k"], v)
                for v in probe
            ):
                return False
        return True

    def _read_schema(self, m: Manifest, table: str):
        """Snapshot read schema: the manifest's evolved schema if any,
        else the static EVM DDL schema, else None (schema-on-read)."""
        from pyspark.sql import types as T

        if table in m.schemas:
            return T.StructType.fromJson(m.schemas[table])
        return EVM_SCHEMAS.get(table)

    def read_status(self) -> dict | None:
        return self.current_manifest().status

    def table_rows(self, table: str, *, manifest: Manifest | None = None) -> int:
        """Metadata-only row count (the /stats fast path)."""
        m = self.current_manifest() if manifest is None else manifest
        if (
            isinstance(m, DeltaManifest)
            and m.__dict__.get("_hydrated") is None
            and (
                not m.__dict__["_removes"].get(table)
                or m.__dict__["_removed_rows_ok"].get(table, True)
            )
        ):
            # base checkpoint count (columnar when lazy) + delta adds −
            # delta-recorded removed rows: removing deltas (delete/
            # upsert since r9) carry each removed fragment's row count
            # in `removes_rows`, so the /stats fast path stays O(tail)
            # through takedowns (ADVICE r9).  Only a pre-r10 removing
            # delta without the map falls through to the hydrated sum.
            return (
                self.table_rows(table, manifest=m.__dict__["_base"])
                + sum(f.rows for f in m.__dict__["_adds"].get(table, []))
                - m.__dict__["_base_removed_rows"].get(table, 0)
            )
        if isinstance(m, LazyManifest) and m.__dict__.get("_hydrated") is None:
            import pyarrow.compute as pc

            ds = m.__dict__["_pq_ds"]()
            tbl = ds.to_table(columns=["rows"], filter=pc.field("table") == table)
            return pc.sum(tbl["rows"]).as_py() or 0
        return sum(f.rows for f in m.tables.get(table, []))

    def stats(self) -> dict:
        """Metadata-only store observability — the numbers an operator
        dashboards before deciding to compact/refresh/vacuum, computed
        entirely from the current manifest (no data read, no Spark job,
        and since r9 no filesystem walk either: fragment byte sizes are
        recorded in the manifest at write time; cost O(#fragments) of
        in-memory arithmetic, with a per-fragment stat-walk fallback
        only for pre-r9 manifests).

        Per table: fragment/row counts, on-disk bytes, block bounds,
        index-tier coverage (how many fragments carry blooms / dicts).
        Per projection: layout, fragment count, ``stale`` (a covered
        base fragment was removed — reads raise until rebuild) and
        ``lag_fragments`` (base fragments newer than the projection —
        the LSM tail read_projection unions in; refresh_projection
        drains it)."""
        m = self.current_manifest()
        out: dict = {"version": m.version, "tables": {}}
        for table, frags in m.tables.items():
            frag_bytes = [b for b in map(self._frag_bytes, frags) if b > 0]
            blocks = [
                (f.min_block, f.max_block)
                for f in frags
                if f.min_block is not None
            ]
            # largest/median fragment size — the compact-by-skew signal
            # (a table whose fragments are one 10 GB base + fifty 1 MB
            # streaming tails scans fine by count but terribly by skew)
            sizes = sorted(b for b in frag_bytes if b > 0)
            # LOWER median: with an even count the upper median is the
            # big half's smallest member, so the canonical "one 10 GB
            # base + one small tail" 2-fragment shape would compute
            # ~1.0 and blind the maintain_store skew trigger (ADVICE r8)
            skew = (
                round(sizes[-1] / sizes[(len(sizes) - 1) // 2], 3)
                if len(sizes) >= 2 else None
            )
            t: dict = {
                "fragments": len(frags),
                "rows": sum(f.rows for f in frags),
                "bytes": sum(frag_bytes),
                "size_skew": skew,
                "bloom_fragments": sum(1 for f in frags if f.blooms),
                "dict_fragments": sum(1 for f in frags if f.dicts),
                "min_block": min((b for b, _ in blocks), default=None),
                "max_block": max((b for _, b in blocks), default=None),
                "projections": {},
            }
            paths = {f.path for f in frags}
            for name, p in m.projections.get(table, {}).items():
                covered = set(p["covers"])
                t["projections"][name] = {
                    "layout": p.get("layout", "range"),
                    "cluster_by": list(p["cluster_by"]),
                    "fragments": len(p["fragments"]),
                    "rows": sum(f.rows for f in p["fragments"]),
                    "stale": bool(covered - paths),
                    "lag_fragments": len(paths - covered),
                }
            out["tables"][table] = t
        return out

    def compact(
        self,
        table: str,
        max_fragments: int = 8,
        *,
        sort_within: tuple[str, ...] = (),
        zorder_by: tuple[str, ...] = (),
    ) -> int:
        """Merge a table's fragments into ≤ ``max_fragments`` larger ones,
        range-partitioned by block_number, in one atomic swap.  Readers
        never see a partial compaction; old fragments stay on disk until
        :meth:`vacuum`.  Run in the background at scale — streaming ingest
        creates one small fragment per batch, and scan cost is ∝ fragment
        count for small queries.  Returns fragments before compaction.

        Each range partition becomes its OWN manifest fragment (one data
        pass — Spark writes the range-partitioned output once, then the
        part-files are renamed into fragment dirs), so the manifest's
        coarse min/max pruning tier survives compaction: a narrow block
        range still touches one fragment, not the whole table.

        ``zorder_by=(colA, colB, ...)`` switches the layout to Z-order
        (Morton) clustering over ≥2 columns (store/zorder.py): fragments
        become TILES covering a bounded range of EVERY listed column, so
        block-range pruning (manifest min/max) and point-lookup pruning
        (bloom/dict tiers) both work from one layout — block sort alone
        puts every hot address in every fragment.  Ranges per dimension
        widen ~√fragments vs a single-column sort; that is the z-order
        trade, measured in tools/zorder_bench.py."""
        from pyspark.sql import functions as F

        m = self.current_manifest()
        frags = m.tables.get(table, [])
        if len(frags) <= max_fragments:
            return len(frags)
        df = self.read(table)
        if zorder_by:
            from .zorder import with_zorder_key

            df = with_zorder_key(df, tuple(zorder_by))
            df = (
                df.repartitionByRange(max_fragments, F.col("_zkey"))
                .sortWithinPartitions("_zkey")
                .drop("_zkey")
            )
        elif "block_number" in df.columns:
            df = df.repartitionByRange(max_fragments, F.col("block_number"))
            # secondary sort inside each range partition clusters hot
            # filter columns (e.g. topic0) so parquet row-group min/max
            # stats skip effectively — the Z-order-lite analog of the
            # reference's composite indexes (init.sql:71-74)
            keys = ("block_number", *sort_within)
            df = df.sortWithinPartitions(*[F.col(c) for c in keys])
        else:
            df = df.repartition(max_fragments)
        staging_rel = _make_staging_rel(table, "compact")
        df.write.mode("overwrite").parquet(str(self.root / staging_rel))
        new_frags: list[Fragment] = []
        try:
            for part in self._staged_parts(staging_rel):
                frag = self._adopt_file_as_fragment(table, part)
                if frag is not None:
                    frag.derived = True  # merge of existing rows only
                    new_frags.append(frag)
        finally:
            self._dio.delete_dir(staging_rel)
        self._touch_or_fail(new_frags)
        self._swap_next(
            m,
            op="compact",
            adds={table: new_frags},
            removes={table: [f.path for f in frags]},
            checkpoint=True,
        )
        return len(frags)

    # -- clustered projections --------------------------------------------

    def build_projection(
        self,
        table: str,
        name: str,
        cluster_by: tuple[str, ...] = (),
        *,
        max_fragments: int = 8,
        zorder_by: tuple[str, ...] = (),
    ) -> int:
        """Materialize a replica of ``table`` clustered by ``cluster_by``
        — the manifest analog of the reference's secondary composite
        indexes (init.sql:71-74: logs(address, block_number)).  The base
        layout is block-range clustered (right for range scans and reorg
        rollback); a per-address scan there touches EVERY fragment.  The
        projection range-partitions by the cluster key and sorts
        ``(cluster_by..., block_number)`` within partitions, so one
        address's rows live in one fragment's few row groups, with
        ``min_key``/``max_key`` manifest stats pruning fragments before
        file listing (blooms apply on top, same as the base table).

        Freshness contract: the manifest records which base fragments the
        projection ``covers``.  Later commits APPEND fragments — reads
        union the projection with the uncovered tail (LSM-style
        clustered-base + recent-delta), so a projection stays usable
        without rebuilding per commit.  :meth:`delete_equals` MAINTAINS
        projections in its own swap (purging the key from the clustered
        copies — the compliance path); any OTHER operation that removes
        a covered fragment (rollback, compaction) makes the projection
        stale; :meth:`read_projection` detects that and raises, and the
        background maintenance that runs compaction is expected to
        rebuild projections after it (same job class).
        Returns the number of projection fragments.

        ``zorder_by=(colA, colB, ...)`` (exclusive with ``cluster_by``)
        switches the projection layout to Z-order (Morton) tiles over
        ≥2 columns — the same trade :meth:`compact` offers the base
        table (store/zorder.py): each projection fragment covers a
        BOUNDED RANGE OF EVERY listed column, so e.g. an
        (address, block_number) projection prunes by the key tier
        (min_key/max_key + blooms/dicts, built per tile like any
        projection fragment) AND by the manifest block tier at once —
        two-dimensional pruning the single-column range layout cannot
        give (one dimension's clustering destroys the other's).  The
        layout is recorded in the manifest, so refresh and maintenance
        rebuilds preserve it."""
        if bool(cluster_by) == bool(zorder_by):
            raise ValueError("pass exactly one of cluster_by / zorder_by")
        layout = "zorder" if zorder_by else "range"
        cluster_by = tuple(zorder_by) if zorder_by else tuple(cluster_by)
        m = self.current_manifest()
        base = m.tables.get(table, [])
        frags = self._write_clustered_fragments(
            table, name, self.read(table), cluster_by, max_fragments,
            layout=layout,
        )
        self._touch_or_fail(frags)
        entry = {
            "cluster_by": list(cluster_by),
            "layout": layout,
            "covers": [f.path for f in base],
            "fragments": frags,
        }
        self._swap_next(
            m,
            op="projection",
            proj_updates={table: {name: {"set": entry}}},
            checkpoint=True,
        )
        return len(frags)

    def _write_clustered_fragments(
        self,
        table: str,
        name: str,
        df: DataFrame,
        cluster_by: tuple[str, ...] | list[str],
        max_fragments: int,
        *,
        layout: str = "range",
    ) -> list[Fragment]:
        """Cluster ``df`` and adopt the parts as projection fragments
        with ``min_key``/``max_key`` footer stats (shared by full build
        and incremental refresh).  ``layout="range"``: range-partition
        by the cluster key, sort ``(cluster_by..., block_number)``
        within partitions.  ``layout="zorder"``: Morton tiles over all
        ``cluster_by`` columns — every fragment bounds every listed
        column (min_key/max_key from the first, min_block/max_block
        from the footer as always)."""
        from pyspark.sql import functions as F

        if layout == "zorder":
            from .zorder import with_zorder_key

            df = with_zorder_key(df, tuple(cluster_by))
            df = (
                df.repartitionByRange(max_fragments, F.col("_zkey"))
                .sortWithinPartitions("_zkey")
                .drop("_zkey")
            )
        else:
            df = df.repartitionByRange(
                max_fragments, *[F.col(c) for c in cluster_by]
            )
            sort_cols = list(cluster_by) + (
                ["block_number"] if "block_number" in df.columns else []
            )
            df = df.sortWithinPartitions(*[F.col(c) for c in sort_cols])
        dir_name = f"{table}__proj__{name}"
        staging_rel = _make_staging_rel(dir_name, "build")
        df.write.mode("overwrite").parquet(str(self.root / staging_rel))
        frags: list[Fragment] = []
        try:
            for part in self._staged_parts(staging_rel):
                frag = self._adopt_file_as_fragment(
                    table, part, key_column=cluster_by[0], dir_name=dir_name
                )
                if frag is not None:
                    frags.append(frag)
        finally:
            self._dio.delete_dir(staging_rel)
        frags.sort(key=lambda f: (f.min_key is None, f.min_key, f.path))
        return frags

    def refresh_projection(
        self, table: str, name: str, *, max_fragments: int = 2
    ) -> int:
        """Incrementally fold the UNCOVERED delta tail into the
        projection: cluster only the base fragments committed since the
        last build/refresh and append them as a new clustered generation
        (covers extended; existing projection fragments untouched).
        This is the LSM maintenance step — O(delta) work per refresh
        instead of O(table) per rebuild, so a continuously-ingesting
        table can keep its secondary index fresh at commit cadence.
        Generations overlap in key range, so a key probe touches
        O(generations) fragments (min/max + blooms prune within each);
        a periodic full :meth:`build_projection` re-compacts to one
        sorted level, exactly like LSM level compaction.  Raises when a
        covered fragment was removed (rebuild instead); returns the
        number of new fragments (0 = already fresh, no manifest bump)."""
        m = self.current_manifest()
        proj = m.projections.get(table, {}).get(name)
        if proj is None:
            raise ValueError(f"no projection {table}/{name}")
        # per-table listing (columnar prune on a lazy base, tail applied
        # in memory) — never hydrates the other tables' fragment lists
        current = self.fragments_for(table, manifest=m)
        covered = set(proj["covers"])
        missing = covered - {f.path for f in current}
        if missing:
            raise RuntimeError(
                f"projection {table}/{name} is stale: {len(missing)} covered "
                "base fragment(s) were removed; rebuild with build_projection()"
            )
        delta = [f for f in current if f.path not in covered]
        if not delta:
            return 0
        schema = self._read_schema(m, table)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(*[str(self.root / f.path) for f in delta])
        frags = self._write_clustered_fragments(
            table, name, df, proj["cluster_by"], max_fragments,
            layout=proj.get("layout", "range"),
        )
        update = {
            name: {
                "covers_map": {},
                "covers_add": [f.path for f in delta],
                "pfrags_remove": [],
                "pfrags_add": frags,
            }
        }
        self._touch_or_fail(frags)
        # the refresh is the LSM maintenance step that runs on the ingest
        # cadence (maintain_store), so since r10 it rides the delta log
        # like the takedowns: one O(drained tail) record — coverage
        # extension + the new clustered generation
        self._swap_next(m, op="projection_refresh", proj_updates={table: update})
        return len(frags)

    def read_projection(
        self,
        table: str,
        name: str,
        *,
        key_equals: str | None = None,
        key_min: str | None = None,
        key_max: str | None = None,
        min_block: int | None = None,
        max_block: int | None = None,
    ) -> DataFrame:
        """Read through a clustered projection, pruning its fragments by
        the cluster-key bounds (``key_equals`` is shorthand for a
        one-point range and ALSO probes the blooms).  ``min_block``/
        ``max_block`` prune by each fragment's block footer stats on
        top — on a RANGE projection the key sort makes blocks span
        nearly everything per fragment, but on a Z-ORDER projection
        every tile bounds both dimensions, so a (key, block-range)
        probe prunes multiplicatively (tools/projection_bench.py
        measures it).  Base fragments committed after the projection
        was built are unioned in pruned by block bounds only (they are
        small, recent, and block-clustered — the LSM tail).  Raises if
        a covered base fragment has been removed (rollback/delete/
        compact) — the projection no longer represents the table and
        must be rebuilt.

        PRUNING ONLY, like every store read: callers still apply the
        actual predicate."""
        m = self.current_manifest()
        proj = m.projections.get(table, {}).get(name)
        if proj is None:
            raise ValueError(f"no projection {table}/{name}")
        current_paths = {f.path for f in m.tables.get(table, [])}
        missing = [p for p in proj["covers"] if p not in current_paths]
        if missing:
            raise RuntimeError(
                f"projection {table}/{name} is stale: {len(missing)} covered "
                "base fragment(s) were removed (rollback/delete/compaction); "
                "rebuild with build_projection()"
            )
        # footer min/max ordering is case-SENSITIVE bytes while the
        # engine's equality is case-insensitive.  The pruning invariant
        # is that STORED keys are lowercase (normalized at ingest —
        # functions/evm.py::hex_eq contract, mirroring the reference's
        # format!("{:#x}")), so only the PROBE may carry uppercase.  For
        # ASCII, lowercasing a string never makes it sort earlier, so
        # widening the upper bound to the lowercased probe covers every
        # stored (lowercase) key a mixed-case probe can equal; the lower
        # bound needs no widening (probe <= probe.lower() always).
        lo = key_equals if key_min is None else key_min
        hi = key_equals if key_max is None else key_max
        if isinstance(hi, str):
            hi = max(hi, hi.lower())
        frags = list(proj["fragments"])
        if lo is not None:
            frags = [f for f in frags if f.max_key is None or f.max_key >= lo]
        if hi is not None:
            frags = [f for f in frags if f.min_key is None or f.min_key <= hi]
        if key_equals is not None:
            key_col = proj["cluster_by"][0]
            frags = [f for f in frags if self._frag_keeps(f, {key_col: key_equals})]
        covered = set(proj["covers"])
        delta = [f for f in m.tables.get(table, []) if f.path not in covered]
        if key_equals is not None:
            key_col = proj["cluster_by"][0]
            delta = [f for f in delta if self._frag_keeps(f, {key_col: key_equals})]
        if min_block is not None:
            frags = [f for f in frags if f.max_block is None or f.max_block >= min_block]
            delta = [f for f in delta if f.max_block is None or f.max_block >= min_block]
        if max_block is not None:
            frags = [f for f in frags if f.min_block is None or f.min_block <= max_block]
            delta = [f for f in delta if f.min_block is None or f.min_block <= max_block]
        paths = [str(self.root / f.path) for f in frags + delta]
        schema = self._read_schema(m, table)
        if not paths:
            return self.spark.createDataFrame([], schema) if schema is not None else (
                self.spark.range(0).drop("id")
            )
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def maintain_store(
        self, policy: MaintenancePolicy | None = None
    ) -> dict:
        """One idempotent maintenance pass over EVERY table, driven by
        :meth:`stats` against a :class:`MaintenancePolicy` — the closed
        loop a 100x-scale deployment runs on a timer (VERDICT r7 item 6).

        Per table, in order: **compact** when fragment count exceeds
        ``policy.max_fragments`` OR size skew exceeds
        ``policy.max_size_skew``; **rebuild** projections compaction
        made stale (same layout); **refresh** projections whose LSM
        tail exceeds ``policy.max_projection_lag`` fragments; then ONE
        **vacuum** for the whole store (old generations + manifest
        pruning) so in-flight readers get a single grace window.

        Idempotent by construction for the COUNT trigger: a second pass
        on an unchanged store finds counts at/below thresholds, no
        stale covers, lag 0, and nothing unreferenced to vacuum — every
        trigger re-derives from ``stats()``, nothing is remembered
        between passes.  The SKEW trigger converges rather than
        no-ops: ``repartitionByRange(block_number)`` balances by block
        range, so block-skewed data can leave residual size skew after
        one rewrite; each skew pass targets ``fragments - 1``, strictly
        decreasing the fragment count, so convergence is bounded by the
        fragment count (skew is undefined at 1 fragment) — a pass that
        leaves residual skew reports it as ``residual_skew`` in its
        trigger reasons instead of claiming completion (ADVICE r8).
        Returns
        ``{"tables": {name: per-table report}, "vacuumed": n,
        "triggers": {name: [reasons]}}`` so a scheduler can log WHY
        each action fired."""
        pol = policy or MaintenancePolicy()
        st = self.stats()
        report: dict = {"tables": {}, "triggers": {}, "vacuumed": 0}
        for table, t in st["tables"].items():
            trep = {
                "compacted_from": 0,
                "projections_rebuilt": [],
                "projections_refreshed": [],
            }
            reasons = []
            target = pol.max_fragments
            skew_fired = False
            if t["fragments"] > pol.max_fragments:
                reasons.append(f"fragments {t['fragments']} > {pol.max_fragments}")
            elif (
                t["size_skew"] is not None
                and t["size_skew"] > pol.max_size_skew
                and t["fragments"] > 1
            ):
                reasons.append(f"size_skew {t['size_skew']} > {pol.max_size_skew}")
                # the count is already under the cap, so compact()'s
                # count guard would no-op — force the balanced rewrite
                # by targeting below the current count
                target = max(1, min(pol.max_fragments, t["fragments"] - 1))
                skew_fired = True
            if reasons:
                trep["compacted_from"] = self.compact(
                    table,
                    target,
                    zorder_by=pol.zorder_by.get(table, ()),
                    sort_within=pol.sort_within.get(table, ()),
                )
                if skew_fired and trep["compacted_from"]:
                    # block-skewed data can defeat repartitionByRange's
                    # balance in one rewrite — report the honest state
                    # instead of claiming convergence; the next pass
                    # targets a strictly smaller fragment count, so the
                    # loop is bounded (see docstring)
                    post = self._table_size_skew(table)
                    if post is not None and post > pol.max_size_skew:
                        trep["residual_skew"] = post
                        reasons.append(
                            f"residual_skew {post} after compaction "
                            "(converges by fragment-count descent)"
                        )
            m = self.current_manifest()
            current_paths = {f.path for f in m.tables.get(table, [])}
            for name, proj in dict(m.projections.get(table, {})).items():
                if any(p not in current_paths for p in proj["covers"]):
                    kw = (
                        {"zorder_by": tuple(proj["cluster_by"])}
                        if proj.get("layout", "range") == "zorder"
                        else {"cluster_by": tuple(proj["cluster_by"])}
                    )
                    self.build_projection(
                        table, name,
                        max_fragments=max(len(proj["fragments"]), 1),
                        **kw,
                    )
                    trep["projections_rebuilt"].append(name)
                    reasons.append(f"projection {name} stale")
                else:
                    lag = len(current_paths - set(proj["covers"]))
                    if lag > pol.max_projection_lag:
                        if self.refresh_projection(table, name) > 0:
                            trep["projections_refreshed"].append(name)
                            reasons.append(
                                f"projection {name} lag {lag} > "
                                f"{pol.max_projection_lag}"
                            )
            report["tables"][table] = trep
            if reasons:
                report["triggers"][table] = reasons
        report["vacuumed"] = self.vacuum(
            grace_seconds=pol.vacuum_grace_seconds,
            keep_manifests=pol.keep_manifests,
        )
        return report

    def _frag_bytes(self, frag: Fragment) -> int:
        """On-disk bytes of one fragment: the manifest-recorded value
        when present (r9+ fragments — zero filesystem I/O), else one
        filesystem walk (pre-r9 manifests / time-travel)."""
        if frag.bytes is not None:
            return frag.bytes
        return self._dio.dir_bytes(frag.path)

    def _table_size_skew(self, table: str) -> float | None:
        """Current largest/lower-median fragment-size ratio for one
        table (the maintain_store skew signal, recomputed post-compaction
        without a full :meth:`stats` pass)."""
        frags = self.current_manifest().tables.get(table, [])
        sizes = sorted(b for b in map(self._frag_bytes, frags) if b > 0)
        if len(sizes) < 2:
            return None
        return round(sizes[-1] / sizes[(len(sizes) - 1) // 2], 3)

    def projections(self, table: str) -> dict[str, dict]:
        """Projection metadata for ``table`` from the current manifest —
        what a source-routing layer (operators/logs.py::
        get_logs_from_store) inspects to pick an access path."""
        return dict(self.current_manifest().projections.get(table, {}))

    def drop_projection(self, table: str, name: str) -> None:
        """Remove a projection from the manifest (fragments reclaimed by
        the next vacuum)."""
        m = self.current_manifest()
        if name not in m.projections.get(table, {}):
            return
        self._swap_next(
            m,
            op="projection_drop",
            proj_updates={table: {name: {"set": None}}},
            checkpoint=True,
        )

    @staticmethod
    def _footer_min_max(md, column: str):
        """Column min/max across row groups, from footer stats only.
        Parquet may TRUNCATE long string stats, but truncation widens
        the range (stored min ≤ true min, stored max ≥ true max), so
        pruning against these stays conservative."""
        # leaf index, not top-level field index: nested columns (e.g. the
        # all_topics array) flatten to multiple leaves in the footer
        idx = next(
            (i for i in range(md.num_columns) if md.schema.column(i).path == column),
            None,
        )
        if idx is None:
            return None, None
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is not None and st.has_min_max:
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        return lo, hi

    def _adopt_file_as_fragment(
        self,
        table: str,
        part: Path,
        *,
        key_column: str | None = None,
        dir_name: str | None = None,
    ) -> Fragment | None:
        """Move one written parquet part-file into its own fragment dir
        and stat it (:meth:`_stat_fragment_dir`: footer stats, no data
        pass; zero-row parts dropped).  ``key_column`` additionally
        records the cluster-key range (projection fragments);
        ``dir_name`` overrides the on-disk namespace (projections live
        beside, not inside, the base table's fragment dirs) while blooms
        still follow the logical ``table``'s config."""
        rel = f"data/{dir_name or table}/frag-{uuid.uuid4().hex}"
        part = Path(part)
        self._dio.adopt_file(
            part.relative_to(self.root).as_posix(), f"{rel}/{part.name}"
        )
        return self._stat_fragment_dir(table, rel, key_column=key_column)

    def _staged_parts(self, staging_rel: str):
        """The ``part-*.parquet`` files Spark left under a staging
        prefix, via the data-tier listing (glob is a POSIX-ism).

        A generator that HEARTBEATS the staging prefix before each
        yield (r12 review): on object semantics the prefix's dir_mtime
        is the newest REMAINING object — fixed at Spark-write time, so
        a long adoption loop (compact / projection build, each part
        followed by bloom/dict indexing) would age the whole prefix
        past vacuum's orphan floor mid-consumption.  Only the Spark
        writers (compaction, projection builds) stage; row-level
        rewrites write their one part file in place
        (:meth:`_rewrite_fragment`) and stage nothing."""
        parts = [
            self.root / k
            for k in self._dio.list_files(staging_rel)
            if k.rsplit("/", 1)[-1].startswith("part-")
            and k.endswith(".parquet")
        ]
        for part in parts:
            try:
                self._dio.touch_dir(staging_rel)
            except (OSError, FileNotFoundError):
                pass  # fully consumed / vanished: the read fails loudly
            yield part

    def vacuum(self, *, grace_seconds: float = 0.0, keep_manifests: int = 10) -> int:
        """Delete fragment dirs unreferenced by the CURRENT manifest (old
        versions' rewrites, crash orphans) and prune old manifest
        versions.  Returns fragment dirs removed.

        ``grace_seconds`` protects IN-FLIGHT readers: a DataFrame built
        from an older manifest holds file paths lazily, and deleting a
        fragment it hasn't scanned yet fails the job mid-flight.  A
        fragment is only reclaimed once unreferenced for longer than the
        longest query you expect to run (Delta VACUUM's retention
        contract; tests use 0 because reads are materialized eagerly).

        IN-FLIGHT WRITERS get a non-optional floor (r12, the data-tier
        analog of the ADVICE r10 claim floor): a committer writes its
        uuid-named fragment dirs BEFORE its manifest lands (and a
        rebasing :meth:`commit_with_retry` reuses them across attempts),
        so a dir referenced by NO retained manifest is either a crash
        orphan or a commit in flight — the two are indistinguishable by
        construction.  Those dirs are reclaimed only past
        ``max(grace_seconds, claim_grace_seconds)``; without the floor,
        a concurrent ``vacuum(grace_seconds=0)`` deletes a live writer's
        just-written data and the subsequently-ACKNOWLEDGED manifest
        references dead paths.  Dirs that ARE referenced by a retained
        older version (rewrites dropped by CURRENT) keep the pure
        ``grace_seconds`` reader contract.  Tests that reclaim fresh
        orphans backdate dir mtimes, same as they do for claims.

        ``keep_manifests`` bounds metadata growth: every commit writes a
        new manifest version; all but the newest N (and CURRENT) are
        deleted.  Old versions exist only for debugging/time-travel —
        correctness needs just CURRENT, which is why ``keep_manifests``
        must be >= 1: 0 would delete CURRENT's own manifest and brick
        the store (ADVICE r9)."""
        import time as _time

        if keep_manifests < 1:
            raise ValueError(
                f"keep_manifests must be >= 1 (got {keep_manifests}): "
                "retaining fewer would delete the CURRENT manifest"
            )

        v_snap = self.current_version()
        m = Manifest() if v_snap == 0 else self.manifest_at(v_snap)
        live = _manifest_fragment_paths(m)
        listing = self._mio.list()  # advisory: may be a stale snapshot
        files: dict[int, list[str]] = {}
        for name in listing:
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            try:
                ver = int(name[1:7])
            except ValueError:
                continue
            files.setdefault(ver, []).append(name)
        order = sorted(files)
        keep = set(order[-keep_manifests:])
        # the newest version may be missing from an eventually-consistent
        # listing — always keep CURRENT's chain regardless of what LIST
        # returned (correctness needs exactly this version)
        cur_v = self.current_version()
        keep.add(cur_v)
        # a retained log-structured version resolves as checkpoint +
        # delta tail, so its whole chain must outlive it: pull each kept
        # delta's base checkpoint and intermediate deltas into the keep
        # set (chains are <= CHECKPOINT_INTERVAL long, so this extends
        # retention by at most one interval)
        for v in sorted(keep):
            try:
                rec = self._read_version_record(v)
            except (OSError, json.JSONDecodeError):
                continue
            if rec is None or "base" not in rec:
                continue  # checkpoint (or already vacuumed): no chain
            keep.update(range(rec["base"], v))
        # every path referenced by ANY version record existing at scan
        # time (including ones this same pass is about to prune): a dir
        # outside this set is a crash orphan or an in-flight commit
        # (fragments land before the manifest that will reference them),
        # so it gets the claim-grace floor below.  Per record this reads
        # only the record's OWN paths — a checkpoint's full list, a
        # delta's adds + projection-update adds — no chain re-resolution;
        # the union over all records covers every chain member's
        # referenced set by construction.  Direction matters: a record
        # NEWER than the ``v_snap`` snapshot is a commit that landed (or
        # is landing — roll-forward makes its manifest put decisive)
        # DURING this vacuum, so its paths join ``live`` outright;
        # granting them the caller's grace_seconds gate would let
        # vacuum(0) delete data an acknowledged manifest references
        # (found live by the chaos interleaving test).  Failure
        # handling is direction-dependent too (r12 review, second
        # pass): a read failure on a record <= v_snap only FLOORS its
        # dirs longer (safe); a failure on a NEWER record would demote
        # must-be-live paths to the floor — and the floor can expire
        # during a long ever-loop — so that failure aborts fragment
        # reclamation for this pass instead (manifest pruning still
        # proceeds: keep already protects the newest window + chains).
        ever = set(live)
        skip_dir_reclaim = False
        for v in sorted(set(files) | keep):
            if v == 0 or v == v_snap:
                continue  # the snapshot is `live`; v0 is the empty store
            try:
                rec = self._read_version_record(v)
            except (OSError, json.JSONDecodeError):
                if v > v_snap:
                    skip_dir_reclaim = True
                continue
            if rec is None:
                if v > v_snap:
                    skip_dir_reclaim = True
                continue
            sink = live if v > v_snap else ever
            if "base" in rec:  # delta record
                for fl in rec.get("adds", {}).values():
                    sink.update(f["path"] for f in fl)
                for per_proj in rec.get("projections_delta", {}).values():
                    for ch in per_proj.values():
                        sink.update(f["path"] for f in ch["pfrags_add"])
                continue
            # checkpoint record: read path columns straight off the
            # record — projection fragment lists live inline in the
            # envelope (only covers are offloaded), the fraglist sidecar
            # yields its `path` column without materializing stats, and
            # older inline-JSON checkpoints list theirs under `tables`
            # — so classification
            # never hydrates a manifest (r12 review: manifest_at here
            # cost O(keep_manifests x fragments) + a covers hydration
            # per retained checkpoint, per vacuum pass)
            for fl in rec.get("tables", {}).values():
                sink.update(f["path"] for f in fl)
            for projs in rec.get("projections", {}).values():
                for p in projs.values():
                    sink.update(f["path"] for f in p["fragments"])
            pq_name = rec.get("tables_pq")
            if pq_name:
                try:
                    ds = self._mio.parquet_dataset(pq_name)
                    sink.update(
                        ds.to_table(columns=["path"])
                        .column("path")
                        .to_pylist()
                    )
                except (OSError, ValueError, KeyError):
                    if v > v_snap:  # must-be-live paths unknown
                        skip_dir_reclaim = True
                    continue
        now = _time.time()
        claim_grace = max(grace_seconds, self.claim_grace_seconds)
        removed = 0
        for rel in [] if skip_dir_reclaim else self._dio.list_fragment_dirs():
            if rel in live:
                continue
            # two-tier age gate: retained-version rewrites honor the
            # caller's reader contract verbatim; never-referenced dirs
            # (orphan-or-in-flight) get the non-optional liveness floor
            gate = grace_seconds if rel in ever else claim_grace
            if gate > 0:
                try:
                    mt = self._dio.dir_mtime(rel)
                except (OSError, FileNotFoundError):
                    continue
                if now - mt < gate:
                    continue
                # conditioned delete, the _delete_claim_if_unchanged
                # shape for dirs (r12 review): a live writer's liveness
                # touch can land between the age judgment and this
                # delete — re-read immediately before deleting and
                # stand down if the dir changed since we judged it
                try:
                    if self._dio.dir_mtime(rel) != mt:
                        continue
                except (OSError, FileNotFoundError):
                    continue
            self._dio.delete_dir(rel)
            removed += 1
        # a commit can land between the keep-set computation above and
        # this prune, with its delta chain (base checkpoint +
        # intermediates) lying outside the newest-N window — re-read
        # CURRENT and re-extend so the prune never orphans the live
        # chain (the new record itself, landing after `listing`, is
        # never in `files` and thus never prunable this pass)
        cur_fresh = self.current_version()
        if cur_fresh not in keep:
            keep.add(cur_fresh)
            try:
                rec = self._read_version_record(cur_fresh)
            except (OSError, json.JSONDecodeError):
                rec = None
            if rec is not None and "base" in rec:
                keep.update(range(rec["base"], cur_fresh))
        for v, names in files.items():
            if v not in keep:
                for n in names:
                    self._mio.delete(n)
        # (no cross-format healing needed: every version lives at the
        # single v{N}.json name, so "both formats for one version" is
        # structurally impossible — r11 review, second pass)
        # parquet fraglist / covers sidecars live and die with the
        # manifest ENVELOPE that names them (names are writer-unique —
        # tables_pq/covers_pq in v{N}.json is the reference).  Liveness
        # is re-checked through STRONG reads per candidate, never
        # through the (possibly stale) listing.  A LIVE writer writes
        # its sidecars AFTER its claim and BEFORE its manifest (r11
        # review): an existing claim marks a version above CURRENT
        # in-flight and protects its sidecars too (a crashed writer's
        # orphans are reclaimed on the vacuum AFTER the one that frees
        # the claim), with the claim-grace age gate as defense in depth.
        sidecar_re = re.compile(
            r"^(?:frags|covers)-v(\d{6})(?:-[0-9a-f]{8})?\.parquet$"
        )
        env_cache: dict[int, dict] = {}
        for name in listing:
            m_sc = sidecar_re.match(name)
            if not m_sc:
                continue
            ver = int(m_sc.group(1))
            if ver not in env_cache:
                try:
                    env_cache[ver] = json.loads(
                        self._mio.get_text(f"v{ver:06d}.json")
                    )
                except (FileNotFoundError, json.JSONDecodeError):
                    env_cache[ver] = {}
            env = env_cache[ver]
            if name in (env.get("tables_pq"), env.get("covers_pq")):
                continue  # referenced by the surviving envelope
            if ver > cur_v:
                if self._mio.exists(f"v{ver:06d}.claim"):
                    continue
                try:
                    if now - self._mio.mtime(name) < claim_grace:
                        continue
                except FileNotFoundError:
                    continue
            # version at/below CURRENT, or a decided orphan: reclaim
            self._mio.delete(name)
        # claim files: reclaimed with their version once pruned, and a
        # CRASHED writer's orphan (claim, no manifest in either format)
        # is freed so its version number becomes claimable again.
        # Reclamation honors a NON-OPTIONAL floor (ADVICE r10 medium):
        # a live writer sits between claim and manifest put — a window
        # that spans the fraglist/covers sidecar writes — and a vacuum
        # running with grace_seconds=0 must not free that claim and let
        # a second writer re-claim the version (both formats landing =
        # the exact lost update the claim protocol prevents).  The floor
        # is the store's claim_grace_seconds (the same liveness envelope
        # _claim_version's self-heal uses); grace_seconds can only
        # RAISE it.  (claim_grace and cur_v computed above, shared with
        # the sidecar guard.)
        for name in listing:
            if not (name.startswith("v") and name.endswith(".claim")):
                continue
            stem = name[:-len(".claim")]
            try:
                ver_c = int(stem[1:7])
            except ValueError:
                continue
            if self._version_record_exists(ver_c):
                # manifest still present: claim lives with its version
                continue
            ver = ver_c
            if ver > cur_v:
                # possibly a LIVE writer between claim and manifest put
                # (the version is still claimable territory) — only a
                # grace-expired claim is a crashed writer's orphan, and
                # the delete is conditioned on the claim being unchanged
                # since this check so a freed-and-re-claimed name is
                # never forfeited (same TOCTOU guard as the self-heal)
                try:
                    content = self._mio.get_text(name)
                    mtime = self._mio.mtime(name)
                except FileNotFoundError:
                    continue
                if now - mtime < claim_grace:
                    continue
                self._delete_claim_if_unchanged(name, content, mtime)
                continue
            # ver <= CURRENT: its manifest landed (and was pruned above)
            # — the version can never be re-claimed (writers target
            # CURRENT+1), so the claim is reclaimable without grace
            self._mio.delete(name)
        return removed
