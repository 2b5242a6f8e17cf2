"""Remote CSV source: fetch http(s) files to a local staging dir.

The reference streams remote CSVs over HTTP line-by-line
[reference: src/tapis_direct_driver.py:103-107, src/driver.py:140-141].
Here the runner downloads each file once into a staging directory (shared
storage on a real cluster) and parses the staged copy as byte-range work
units: ranged parallel reads and task retries need a seekable store, not a
one-shot HTTP stream. Downloads reuse the sink stack's backoff-retry
schedule [src/modules/ingestion_handler.py:70-78].
"""

from __future__ import annotations

import hashlib
import os
import shutil
import urllib.parse
import urllib.request

from station_data_ingestion_spark.operators.sinks import with_retries

_REMOTE_SCHEMES = ("http", "https")


def is_remote(path: str) -> bool:
    return urllib.parse.urlparse(path).scheme in _REMOTE_SCHEMES


def stage_if_remote(
    path: str,
    staging_dir: str,
    retries: int = 3,
    timeout: float = 60.0,
    overwrite: bool = False,
) -> str:
    """Return a local path for `path`, downloading into staging_dir if remote.

    Local paths pass through untouched. The staged filename is derived
    from the URL path so re-runs reuse the same name; an existing staged
    file is reused unless `overwrite` (resume-friendly: the runner's
    manifest already guards re-ingestion).
    """
    if not is_remote(path):
        return path
    # Prefix with a hash of the FULL URL: two URLs sharing a basename
    # (e.g. .../2021/prec.csv and .../2022/prec.csv) must not collide,
    # or the second silently reuses the first file's bytes.
    base = os.path.basename(urllib.parse.urlparse(path).path) or "download.csv"
    name = f"{hashlib.sha256(path.encode()).hexdigest()[:12]}_{base}"
    os.makedirs(staging_dir, exist_ok=True)
    dest = os.path.join(staging_dir, name)
    if os.path.exists(dest) and not overwrite:
        return dest

    def fetch() -> None:
        tmp = dest + ".tmp"
        with urllib.request.urlopen(path, timeout=timeout) as resp, open(
            tmp, "wb"
        ) as out:
            shutil.copyfileobj(resp, out)
        os.replace(tmp, dest)

    with_retries(fetch, retries=retries)
    return dest
