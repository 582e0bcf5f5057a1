"""Numbered immutable records: commit metadata that never replaces a file.

A small piece of mutable state — a table's branch heads, a consumer
group's committed offsets — is kept as a series of numbered JSON
records ``<prefix><seq:08d>.json`` in one directory.  The newest record
is the state; a writer creates the next number and never touches an
existing file.  Each record is written to a temp file and published by
``os.link`` to its fresh name, so it appears whole, and a name another
writer already took raises instead of being overwritten: creating
record ``seq + 1`` is a compare-and-swap against record ``seq``.  The
writer then deletes the superseded records, so the directory holds one
or two of them and reading the state is one short listing and one
open, however long the history.

Why not the usual write-temp-then-rename: on ext4 (default
``auto_da_alloc``) a rename that REPLACES an existing file makes the
kernel write the new file's data out first.  Measured on a 4-core VM
with an ext4 root: replacing a 30-byte JSON file by rename takes a
median 69 ms, publishing it under a fresh name by link 0.013 ms.  A
commit path that rewrites one fixed file name pays that flush on every
commit.

This module uses the standard library only: the filebus stream source
calls it from Spark's Python streaming-source process, which pickles it
by value (``sources.filebus.register_filebus``).
"""

from __future__ import annotations

import json
import os
import re
import uuid


def create_exclusive(path: str, text: str) -> bool:
    """Publish ``text`` at ``path`` whole, only if ``path`` does not
    exist yet; False when it does (another writer took the name)."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(text)
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def _path(dirpath: str, prefix: str, seq: int) -> str:
    return os.path.join(dirpath, f"{prefix}{seq:08d}.json")


def sequence_numbers(names: list[str], prefix: str) -> list[int]:
    """Record numbers among the directory entries ``names``."""
    pat = re.compile(re.escape(prefix) + r"(\d{8})\.json")
    return [int(m.group(1)) for m in map(pat.fullmatch, names) if m]


def latest(dirpath: str, prefix: str) -> tuple[int, object]:
    """(number, parsed JSON) of the newest record; (0, None) when there
    is none."""
    while True:
        try:
            seqs = sequence_numbers(os.listdir(dirpath), prefix)
        except FileNotFoundError:
            return 0, None
        if not seqs:
            return 0, None
        seq = max(seqs)
        try:
            with open(_path(dirpath, prefix, seq), encoding="utf-8") as fh:
                return seq, json.load(fh)
        except FileNotFoundError:
            continue  # superseded and removed after the listing: list again


def create(dirpath: str, prefix: str, seq: int, obj) -> bool:
    """Create record ``seq``; False when that number is already taken.

    A number that ``remove_below`` freed is taken too: a record is only
    removed once a higher one exists, so a record created under a freed
    number is not the newest.  It is withdrawn, and False returned, so
    a writer that read a long-superseded record cannot slip a record in
    beneath the newest and believe its swap succeeded."""
    path = _path(dirpath, prefix, seq)
    if not create_exclusive(path, json.dumps(obj)):
        return False
    if max(sequence_numbers(os.listdir(dirpath), prefix)) == seq:
        return True
    os.remove(path)
    return False


def remove_below(dirpath: str, prefix: str, seq: int) -> None:
    """Delete every record numbered below ``seq``, an existing record
    (superseded state)."""
    for n in sequence_numbers(os.listdir(dirpath), prefix):
        if n < seq:
            try:
                os.remove(_path(dirpath, prefix, n))
            except FileNotFoundError:
                pass
