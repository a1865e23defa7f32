"""Atomic small-file writes on the driver.

A temp file beside the target, then ``os.replace`` (atomic on POSIX):
a reader sees the old content or the new, never a partial file, and a
crash before the replace leaves only an ignored temp file. One helper
for the table store's ``_CURRENT`` and ``_SCHEMA`` and the JSON control
state (etl.checkpoint, etl.watermark).
"""

from __future__ import annotations

import json
import os
import tempfile


def write_atomic(path: str, text: str) -> None:
    """Replace ``path`` with ``text``: temp file, then os.replace."""
    parent = os.path.dirname(os.path.abspath(path))
    os.makedirs(parent, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=parent, prefix=f".{os.path.basename(path)}.")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(text)
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise


def read_json(path: str, default):
    """The JSON value at ``path``, or ``default`` when there is no file."""
    if os.path.isdir(path):
        raise ValueError(
            f"{path} is a directory, not a JSON state file — control state "
            "in the earlier parquet format; delete it to start afresh"
        )
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return default
