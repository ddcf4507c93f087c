"""Data-tier filesystem seam for :class:`TableStore` (VERDICT r11
item 5).

The data tier is where fragment parquet lives.  Spark and pyarrow do
their own reads and writes through the fragment URI (``file://``,
``s3a://``, ``gs://`` — their filesystems/committers own that I/O), so
this seam covers exactly the operations TableStore itself performs on
fragment directories: adopting staged output into its final name,
existence/size/mtime checks, recursive deletes (vacuum, emptied
fragments, staging cleanup), and the unreferenced-fragment listing
vacuum walks.  Bloom/dict sidecars are single-object creates/reads
inside a fragment's prefix (one PUT / one GET on any backend) and stay
in ``store/bloom.py``.

Two implementations:

- :class:`LocalDataTierIO` — POSIX: rename-adoption (``os.replace``),
  ``rglob`` sizes, ``rmtree`` deletes.  The default; byte-identical
  behavior to the pre-seam inline code.

- :class:`ObjectStoreStyleDataTierIO` — the SAME contract expressed
  only in flat object primitives (LIST-prefix / PUT / DELETE / HEAD):
  adoption is copy+delete (object stores have no rename), a
  "directory" exists iff some key carries its prefix (object stores
  have no empty directories), and a directory's mtime is the max of
  its objects' Last-Modified.  Bytes still land in the same local
  root — Spark must be able to read the files — but every
  TableStore-visible operation goes through the object primitives, so
  running the full ingest lifecycle (commit → compact → rollback →
  vacuum) against it proves the store never leans on a POSIX crutch
  in the data tier.  A real S3 adapter maps each primitive 1:1
  (ListObjectsV2 / PutObject / DeleteObject / HeadObject), the same
  exercise :class:`~.manifest_io.S3ManifestIO` already did for the
  manifest tier.

Paths are store-root-relative POSIX strings (``data/<table>/
frag-<hex>``), matching the manifest's fragment ``path`` field.
"""

from __future__ import annotations

import os
import shutil
import uuid
from pathlib import Path


class DataTierIO:
    """Abstract data-tier operations (see module docstring)."""

    def ensure_root(self) -> None:
        """Prepare the ``data/`` namespace (mkdir locally; no-op where
        directories don't exist as entities)."""
        raise NotImplementedError

    def delete_dir(self, rel: str) -> None:
        """Remove a fragment/staging directory and everything under it.
        Idempotent: deleting an absent prefix is a no-op."""
        raise NotImplementedError

    def dir_exists(self, rel: str) -> bool:
        """True when the directory holds anything (object semantics:
        some key carries the prefix — empty directories don't exist)."""
        raise NotImplementedError

    def dir_bytes(self, rel: str) -> int:
        """Total bytes of all files under the directory."""
        raise NotImplementedError

    def dir_mtime(self, rel: str) -> float:
        """Last-modified of the directory (object semantics: newest
        object under the prefix).  Raises FileNotFoundError if absent.
        Used only for vacuum's grace window — the same clock-skew
        contract as :meth:`~.manifest_io.ManifestIO.mtime` applies."""
        raise NotImplementedError

    def touch_dir(self, rel: str) -> None:
        """Refresh the directory's :meth:`dir_mtime` to now — the
        in-flight writer's liveness heartbeat.  Vacuum's orphan floor
        measures a never-referenced dir's age from its LAST touch, so a
        committer touches its fragment dirs at every swap attempt and a
        long rebase loop (or a slow sibling table write) never drifts
        past the envelope while the writer is alive.  POSIX: utime on
        the dir inode.  Object stores: overwrite a zero-byte
        ``_liveness`` marker under the prefix (underscore-prefixed —
        Spark and pyarrow both ignore it; ``dir_mtime`` is
        newest-object).  Raises FileNotFoundError if the dir is absent
        — callers existence-check first; a touch must never recreate a
        reclaimed prefix."""
        raise NotImplementedError

    def adopt_file(self, src_rel: str, dst_rel: str) -> None:
        """Move one staged file to its final (fresh, unclaimed) name.
        POSIX: one rename.  Object stores: copy then delete — safe
        because staging prefixes are writer-private (uuid-named) and the
        destination only becomes live when a later manifest swap
        references it, so the non-atomicity is invisible to readers."""
        raise NotImplementedError

    def list_files(self, rel: str) -> list[str]:
        """Root-relative paths of all files under the prefix, sorted."""
        raise NotImplementedError

    def list_fragment_dirs(self) -> list[str]:
        """Root-relative paths of every fragment directory under
        ``data/`` (``data/<table>/<frag>``), the vacuum walk.  Staging
        prefixes (dot-named) are included — vacuum's liveness check
        decides, not the listing.  MAY be advisory/stale on a real
        object store, like :meth:`~.manifest_io.ManifestIO.list`."""
        raise NotImplementedError


class LocalDataTierIO(DataTierIO):
    """POSIX directory data tier (the default)."""

    def __init__(self, root: Path):
        self.root = Path(root)

    def ensure_root(self) -> None:
        (self.root / "data").mkdir(parents=True, exist_ok=True)

    def delete_dir(self, rel: str) -> None:
        shutil.rmtree(self.root / rel, ignore_errors=True)

    def dir_exists(self, rel: str) -> bool:
        # parity with the object-semantics contract ("holds anything —
        # empty directories don't exist", r12 review): a bare dir inode
        # with no files (crash residue between mkdir and rename) must
        # answer the same on both backends
        d = self.root / rel
        if not d.exists():
            return False
        return next(
            (True for p in d.rglob("*") if p.is_file()), False
        )

    def dir_bytes(self, rel: str) -> int:
        d = self.root / rel
        if not d.exists():
            return 0
        return sum(p.stat().st_size for p in d.rglob("*") if p.is_file())

    def dir_mtime(self, rel: str) -> float:
        return (self.root / rel).stat().st_mtime

    def touch_dir(self, rel: str) -> None:
        os.utime(self.root / rel)  # FileNotFoundError if reclaimed

    def adopt_file(self, src_rel: str, dst_rel: str) -> None:
        dst = self.root / dst_rel
        dst.parent.mkdir(parents=True, exist_ok=True)
        os.replace(self.root / src_rel, dst)

    def list_files(self, rel: str) -> list[str]:
        d = self.root / rel
        if not d.exists():
            return []
        return sorted(
            p.relative_to(self.root).as_posix()
            for p in d.rglob("*")
            if p.is_file()
        )

    def list_fragment_dirs(self) -> list[str]:
        data = self.root / "data"
        out: list[str] = []
        if not data.exists():
            return out
        for tdir in data.iterdir():
            if not tdir.is_dir():
                continue
            for frag_dir in tdir.iterdir():
                if frag_dir.is_dir():
                    out.append(frag_dir.relative_to(self.root).as_posix())
        return sorted(out)


class ObjectStoreStyleDataTierIO(DataTierIO):
    """Data tier constrained to flat object primitives (see module
    docstring).  Bytes live in the local ``root`` so Spark/pyarrow can
    read them, but this class touches them ONLY through its five
    private primitives — each a single documented call on a real
    object store — never rename, rmtree, or directory stat."""

    def __init__(self, root: Path):
        self.root = Path(root)

    # -- the five object primitives (1:1 with an S3 API call each) -----

    def _keys(self, prefix: str = "") -> list[str]:
        """ListObjectsV2 with ``Prefix=prefix + '/'`` — the trailing
        slash is PART OF THE CONTRACT: a raw ``Prefix=prefix`` listing
        has no path boundary, so ``data/t/frag-ab`` would also match
        ``data/t/frag-abc...``'s keys and delete_dir/list_files would
        conflate sibling fragments.  A real adapter must append the
        delimiter exactly as the filesystem form below does implicitly
        (the local path component boundary)."""
        base = self.root / prefix if prefix else self.root
        if not base.exists():
            return []
        return sorted(
            p.relative_to(self.root).as_posix()
            for p in base.rglob("*")
            if p.is_file()
        )

    def _put(self, key: str, data: bytes) -> None:  # PutObject
        p = self.root / key
        p.parent.mkdir(parents=True, exist_ok=True)  # keys imply no dirs
        p.write_bytes(data)

    def _get(self, key: str) -> bytes:  # GetObject
        return (self.root / key).read_bytes()

    def _delete(self, key: str) -> None:  # DeleteObject (idempotent)
        (self.root / key).unlink(missing_ok=True)

    def _head(self, key: str) -> tuple[int, float]:  # HeadObject
        st = (self.root / key).stat()
        return st.st_size, st.st_mtime

    # -- DataTierIO in terms of the primitives only ---------------------

    def ensure_root(self) -> None:
        pass  # prefixes aren't entities; nothing to create

    def delete_dir(self, rel: str) -> None:
        for key in self._keys(rel):
            self._delete(key)

    def dir_exists(self, rel: str) -> bool:
        return bool(self._keys(rel))

    def dir_bytes(self, rel: str) -> int:
        return sum(self._head(k)[0] for k in self._keys(rel))

    def dir_mtime(self, rel: str) -> float:
        keys = self._keys(rel)
        if not keys:
            raise FileNotFoundError(rel)
        return max(self._head(k)[1] for k in keys)

    def touch_dir(self, rel: str) -> None:
        if not self._keys(rel):  # never recreate a reclaimed prefix
            raise FileNotFoundError(rel)
        self._put(f"{rel}/_liveness", b"")  # PutObject refreshes mtime

    def adopt_file(self, src_rel: str, dst_rel: str) -> None:
        self._put(dst_rel, self._get(src_rel))
        self._delete(src_rel)

    def list_files(self, rel: str) -> list[str]:
        return self._keys(rel)

    def list_fragment_dirs(self) -> list[str]:
        dirs: set[str] = set()
        for key in self._keys("data"):
            parts = key.split("/")
            if len(parts) >= 3:  # data/<table>/<frag>/<...files>
                dirs.add("/".join(parts[:3]))
        return sorted(dirs)


def make_staging_rel(dir_name: str, kind: str) -> str:
    """A writer-private staging prefix under a table/projection's data
    namespace (uuid-named: concurrent writers never collide)."""
    return f"data/{dir_name}/.{kind}-{uuid.uuid4().hex}"
