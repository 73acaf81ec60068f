"""Multi-file expansion and archive sources.

Re-expresses pgloader's md-connection path specs
(``src/parsers/command-csv.lisp:306-346``,
``src/sources/common/files-and-pathnames.lisp:37``): a source can be a
single file, a glob, ``ALL FILENAMES MATCHING ~/regex/ IN DIRECTORY``,
``FIRST FILENAME MATCHING``, stdin, inline data, or an http(s) URL —
possibly inside a zip/tar/gz archive
(``src/utils/archive.lisp:15-125``).

Spark reads take a list of paths natively, so expansion returns a
path list that feeds one distributed scan (partition planning then
sees all files at once — better than the reference's sequential
per-file loop).
"""

from __future__ import annotations

import gzip
import os
import re
import shutil
import tarfile
import tempfile
import urllib.request
import zipfile
from dataclasses import dataclass


@dataclass
class PathSpec:
    """One of: filename | matching regex in directory | first match."""

    kind: str  # "file" | "matching" | "first" | "http"
    path: str  # file path, directory, or URL
    regex: str | None = None


def expand_spec(spec: PathSpec) -> list[str]:
    """PathSpec -> concrete file list (files-and-pathnames.lisp:37)."""
    if spec.kind == "file":
        return [spec.path]
    if spec.kind == "http":
        return [fetch_http(spec.path)]
    pattern = re.compile(spec.regex or ".*")
    matches = sorted(
        os.path.join(spec.path, f)
        for f in os.listdir(spec.path)
        if pattern.search(f) and os.path.isfile(os.path.join(spec.path, f))
    )
    if spec.kind == "first":
        return matches[:1]
    return matches


def fetch_http(url: str, dest_dir: str | None = None) -> str:
    """Download to a local temp file (archive.lisp:15-57). On a real
    cluster the fetch should land on shared storage; the local path
    mirrors the reference's behavior."""
    dest_dir = dest_dir or tempfile.mkdtemp(prefix="pgloader_spark_http_")
    name = os.path.basename(url.split("?", 1)[0]) or "download"
    dest = os.path.join(dest_dir, name)
    with urllib.request.urlopen(url) as resp, open(dest, "wb") as out:
        shutil.copyfileobj(resp, out)
    return dest


def expand_archive(path: str, dest_dir: str | None = None) -> list[str]:
    """zip / tar(.gz|.bz2) / plain .gz -> extracted file list
    (archive.lisp:59-125). Extraction is driver-side (archives are not
    splittable); the extracted files then scan distributed."""
    dest_dir = dest_dir or tempfile.mkdtemp(prefix="pgloader_spark_arch_")
    out: list[str] = []
    if zipfile.is_zipfile(path):
        with zipfile.ZipFile(path) as zf:
            for info in zf.infolist():
                if info.is_dir():
                    continue
                target = os.path.join(dest_dir, os.path.basename(info.filename))
                with zf.open(info) as src, open(target, "wb") as dst:
                    shutil.copyfileobj(src, dst)
                out.append(target)
    elif tarfile.is_tarfile(path):
        with tarfile.open(path) as tf:
            for member in tf.getmembers():
                if not member.isfile():
                    continue
                target = os.path.join(dest_dir, os.path.basename(member.name))
                src = tf.extractfile(member)
                if src is None:
                    continue
                with src, open(target, "wb") as dst:
                    shutil.copyfileobj(src, dst)
                out.append(target)
    elif path.endswith(".gz"):
        target = os.path.join(dest_dir, os.path.basename(path)[:-3])
        with gzip.open(path, "rb") as src, open(target, "wb") as dst:
            shutil.copyfileobj(src, dst)
        out.append(target)
    else:
        out.append(path)
    return sorted(out)
