"""Filesystem seam for snapshot publication.

Two primitives differ between a POSIX filesystem and an S3-class
object store, and both sit on the snapshot-publish path
(``incremental.apply_actions`` / ``IndexPaths.publish``):

- **physical sharing**: a new snapshot's untouched partitions are
  always shared BY REFERENCE — its manifest maps each table's
  partition-dir names to root-relative locations that may live in
  ANY earlier snapshot directory (the Iceberg manifest-file idea,
  scaled to this layout), and every reader resolves tables through
  ``IndexPaths.table_entries``. ``stage_partitions`` is the one
  place a FileIO may additionally share bytes: ``LocalFileIO``
  hardlinks the untouched partitions into the new snapshot dir
  (O(#files) metadata ops, zero copy), so each snapshot is also a
  complete directory tree (plain directory reads, age-based GC);
  ``NoLinkFileIO`` (object-store semantics) shares nothing, so a
  snapshot dir holds only the partitions its batch rewrote and GC
  keeps every dir a retained manifest references.
- **atomic rename**: ``CURRENT.json`` is committed locally with
  ``os.replace``. An object store has no rename, but a single-object
  PUT *is* atomic — readers see the whole old pointer or the whole
  new one, never bytes of both — the same property Iceberg's catalog
  pointer swap relies on. The pointer is the ONLY mutable object in
  the layout; manifests and data files are immutable once written.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path


class FileIO:
    """Abstract seam: ``put_pointer`` is the atomic commit primitive
    (local: write-temp + rename; object store: single PUT);
    ``stage_partitions`` shares a table's untouched partitions into a
    staging snapshot, or does nothing."""

    def put_pointer(self, path: Path, payload: str) -> None:
        raise NotImplementedError

    def stage_partitions(self, src: str, dst: str, skip, prefix: str) -> None:
        raise NotImplementedError


class LocalFileIO(FileIO):
    """POSIX filesystem: hardlink sharing (copy2 fallback for
    filesystems that refuse cross-links), os.replace pointer swap."""

    def put_pointer(self, path: Path, payload: str) -> None:
        tmp = path.with_suffix(path.suffix + ".tmp")
        tmp.write_text(payload)
        os.replace(tmp, path)

    def share_file(self, src: Path, dst: Path) -> None:
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)

    def share_tree(self, src: Path, dst: Path) -> None:
        """Share every file under ``src`` into the same relative
        layout under ``dst``."""
        for p in src.rglob("*"):
            q = dst / p.relative_to(src)
            if p.is_dir():
                q.mkdir(parents=True, exist_ok=True)
                continue
            q.parent.mkdir(parents=True, exist_ok=True)
            self.share_file(p, q)

    def stage_partitions(self, src: str, dst: str, skip, prefix: str) -> None:
        """Populate a staging table dir with SHARED copies (hardlinks)
        of every partition dir of ``src`` except ``{prefix}{v}`` for v
        in ``skip`` (the caller rewrites those). Loose table files are
        shared too, except _SUCCESS (the staged write drops a fresh
        one). Nothing under ``src`` is modified."""
        s, d = Path(src), Path(dst)
        d.mkdir(parents=True, exist_ok=True)
        if not s.exists():
            return
        skip_names = {f"{prefix}{v}" for v in skip}
        for p in s.iterdir():
            if p.name in skip_names or p.name == "_SUCCESS":
                continue
            if p.is_dir():
                self.share_tree(p, d / p.name)
            else:
                self.share_file(p, d / p.name)


class NoLinkFileIO(LocalFileIO):
    """Object-store SEMANTICS on the local filesystem (for tests and
    as the reference behavior an S3 FileIO must match): no data file
    is ever linked or copied — untouched partitions stay manifest
    references — and a pointer swap that, like an S3 PUT, atomically
    replaces the whole object."""

    def stage_partitions(self, src: str, dst: str, skip, prefix: str) -> None:
        return None
