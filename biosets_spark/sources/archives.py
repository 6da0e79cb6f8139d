"""S9: compressed / archived input handling.

Reference semantics (biodata.py:1607-1616, tests/fixtures/files.py:
45-96): .zip/.tar/gz/bz2/zstd inputs are transparently extracted
before building.

Spark mapping: gz/bz2/zstd/lz4 text files are read natively by Spark's
codecs (no code needed — ``spark.read.csv("x.csv.gz")`` just works,
albeit as a single non-splittable partition per file). Container
formats (.zip/.tar/.tar.gz/.7z) have no Hadoop codec; they go through
a driver-side ingest-unpack step into a scratch directory, after which
the normal extension-dispatch readers take over. At 100 TB the
recommendation stands: unpack once at ingest, store Parquet.

Each archive snapshot, ``(realpath, size, mtime_ns)``, is unpacked
once into a directory of its own and reused while the archive is
unchanged: its members keep their paths, so a reload hits the
source-relation memo (sources/relations.py). The snapshots live in a
per-user directory under the system temp directory, owned by the user
and closed to everyone else (mode 0700); if that directory cannot be
made or fails the check (another owner, a symlink, other modes), each
call unpacks into a private ``mkdtemp`` directory instead, and its
members get new paths every time. A rewritten archive is unpacked
afresh; its superseded directories are removed once they are
``_STALE_S`` old, not at once, because Spark reads lazily and a
dataset loaded from an old snapshot (in this process or another one
of the same user) still reads its members.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import stat
import tarfile
import tempfile
import time
import urllib.parse
import zipfile

ARCHIVE_EXTS = (
    ".zip", ".tar", ".tar.gz", ".tgz", ".tar.bz2",
    ".tar.xz", ".txz", ".tar.zst", ".tzst", ".7z",
)
_TARFILE_EXTS = (".tar", ".tar.gz", ".tgz", ".tar.bz2", ".tar.xz", ".txz")


def is_archive(path: str) -> bool:
    low = path.lower()
    return low.endswith(ARCHIVE_EXTS)


def _to_local(path: str) -> str:
    """Resolve a path for the stdlib archive openers. ``file:`` URIs
    (as returned by Hadoop-FS discovery, e.g. ``file:/dir/x.zip``) are
    stripped to a plain local path; other schemes (s3a/hdfs/...) can't
    be opened driver-side — archives on remote stores must be unpacked
    at ingest (the 100 TB recommendation above applies doubly there).
    """
    # scheme must be followed by '/' — a bare colon in a filename
    # ('data:v2.zip', 'C:\\x.zip') is NOT a URI
    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.\-]*):(?=/)(?://)?(.*)$", path)
    if not m:
        return path
    scheme, _rest = m.groups()
    if scheme.lower() != "file":
        raise ValueError(
            f"cannot extract archive {path!r} from a remote filesystem; "
            "unpack it at ingest (or download it locally) first"
        )
    # file:///dir/x, file:/dir/x, file://host/dir/x all → /dir/x.
    # No percent-unquoting: Hadoop Path.toString() does not encode, and
    # unquoting would corrupt filenames containing literal '%'.
    parsed = urllib.parse.urlparse(path)
    return parsed.path


# a superseded snapshot is removed once it is this old (seconds)
_STALE_S = 24 * 3600


def _scratch() -> str | None:
    """This user's snapshot directory, made if absent; None unless it
    is a real directory owned by the user with mode 0700, so that no
    other user can have put (or can replace) a snapshot in it."""
    path = os.path.join(tempfile.gettempdir(), f"biosets_unpack-{os.getuid()}")
    try:
        os.mkdir(path, 0o700)
    except FileExistsError:
        pass
    except OSError:
        return None
    st = os.lstat(path)
    if (stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid()
            and stat.S_IMODE(st.st_mode) == 0o700):
        return path
    return None


def _snapshot_dir(local: str, fill, variant: str = "") -> str:
    """The directory ``fill(dir)`` unpacks the archive ``local`` into,
    named by its ``(realpath, size, mtime_ns)`` plus ``variant`` (what
    else shapes the contents, e.g. the rows a stripped copy skips) and
    reused while that is unchanged. It is filled under a temporary name and renamed into
    place, so a directory under a snapshot's name is complete. A new
    snapshot removes the archive's older ones that are ``_STALE_S``
    old. Without a trusted scratch directory every call fills a
    private ``mkdtemp`` directory."""
    scratch = _scratch()
    if scratch is None:
        tmp = tempfile.mkdtemp(prefix="biosets_unpack_")
        try:
            fill(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        return tmp
    real = os.path.realpath(local)
    st = os.stat(real)
    tag = hashlib.sha256(f"{real}\0{variant}".encode()).hexdigest()[:16]
    name = f"{tag}-{st.st_size}-{st.st_mtime_ns}"
    dest = os.path.join(scratch, name)
    if os.path.isdir(dest):
        return dest
    tmp = tempfile.mkdtemp(prefix=f".{tag}-", dir=scratch)
    try:
        fill(tmp)
        os.rename(tmp, dest)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        # unless another caller put the same snapshot in place first
        if not os.path.isdir(dest):
            raise
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    stale = time.time() - _STALE_S
    for old in os.listdir(scratch):
        path = os.path.join(scratch, old)
        try:
            if (old.startswith(tag + "-") and old != name
                    and os.lstat(path).st_mtime < stale):
                shutil.rmtree(path, ignore_errors=True)
        except FileNotFoundError:  # removed by another caller meanwhile
            pass
    return dest


def _unpack(path: str, dest: str) -> None:
    low = path.lower()
    if low.endswith(".zip"):
        with zipfile.ZipFile(path) as z:
            z.extractall(dest)
    elif low.endswith(_TARFILE_EXTS):
        # gz/bz2/xz all via the stdlib (mode "r:*" auto-detects)
        with tarfile.open(path, "r:*") as t:
            t.extractall(dest, filter="data")
    elif low.endswith((".tar.zst", ".tzst")):
        # reference fixtures include zstd-tar (files.py:45-96); the
        # stdlib has no zstd codec, so gate behind the zstandard package
        try:
            import zstandard
        except ImportError as e:
            raise ImportError(
                f"extracting {path!r} requires the 'zstandard' package "
                "(pip install zstandard)"
            ) from e
        with open(path, "rb") as src, tempfile.NamedTemporaryFile(suffix=".tar", delete=False) as tmp:
            zstandard.ZstdDecompressor().copy_stream(src, tmp)
            tmp_tar = tmp.name
        try:
            with tarfile.open(tmp_tar, "r:") as t:
                t.extractall(dest, filter="data")
        finally:
            os.unlink(tmp_tar)
    else:  # .7z
        try:
            import py7zr
        except ImportError as e:
            raise ImportError(
                f"extracting {path!r} requires the 'py7zr' package (pip install py7zr)"
            ) from e
        with py7zr.SevenZipFile(path) as z:
            z.extractall(dest)


def extract(path: str) -> list[str]:
    """Unpack a zip/tar/7z archive; returns the paths of its member
    files (symlinks left out), the same on every call while the
    archive is unchanged."""
    local = _to_local(path)
    if not is_archive(local):
        raise ValueError(f"not a recognized archive: {path!r}")
    dest = _snapshot_dir(local, lambda d: _unpack(local, d))
    return sorted(
        p for root, _dirs, names in os.walk(dest)
        for p in (os.path.join(root, n) for n in names) if not os.path.islink(p))


def _decompress_single(path: str) -> str:
    """Decompress a LONE .xz/.zst file to scratch (original basename
    minus the codec suffix, so extension dispatch still works). Spark
    has no Hadoop XZ codec — reading a .json.xz 'natively' silently
    produces null rows (r8 review), the silent-ignore failure class.
    zstd is gated behind the optional zstandard package."""
    import lzma

    local = _to_local(path)
    low = local.lower()
    if low.endswith(".xz"):
        opener = lzma.open
        base = os.path.basename(local)[: -len(".xz")]
    else:  # .zst / .zstd
        try:
            import zstandard
        except ImportError as e:
            raise ImportError(
                f"reading {path!r} requires the 'zstandard' package "
                "(pip install zstandard)"
            ) from e
        opener = zstandard.open
        base = os.path.basename(local)
        base = base[: -len(".zstd")] if low.endswith(".zstd") \
            else base[: -len(".zst")]

    def fill(dest: str) -> None:
        with opener(local, "rb") as src, open(os.path.join(dest, base), "wb") as dst:
            shutil.copyfileobj(src, dst, 1 << 20)

    return os.path.join(_snapshot_dir(local, fill), base)


_SINGLE_DECOMP_EXTS = (".xz", ".zst", ".zstd")


def expand_paths(paths: list[str]) -> list[str]:
    """Replace archive entries in a file list with their extracted
    members, and decompress lone .xz/.zst single files driver-side
    (Spark has no Hadoop codec for either — a 'native' read returns
    nulls, not an error). Pass-through for everything else, including
    gz/bz2 single files which Spark reads natively.

    An archive that cannot be extracted (missing optional codec
    package, remote scheme) is skipped with a warning rather than
    failing the whole load — a stray .7z in a data directory must not
    make its CSVs unreadable. If NOTHING remains readable the first
    error is re-raised, so an explicitly requested archive still fails
    loudly."""
    import warnings

    out: list[str] = []
    errors: list[Exception] = []
    for p in paths:
        if not is_archive(p) and p.lower().endswith(_SINGLE_DECOMP_EXTS):
            try:
                out.append(_decompress_single(p))
            except ImportError as e:
                # .zst without the zstandard package: pass through
                # unchanged — a cluster whose Hadoop ships the native
                # zstd codec can still read it; forcing a skip here
                # would regress that. (.xz never lands here: stdlib
                # lzma always imports.)
                warnings.warn(
                    f"{p!r}: zstandard package absent, passing through "
                    f"to Spark's native codec (if the cluster lacks it "
                    f"the read will fail or produce garbage): {e}")
                out.append(p)
            except (ValueError, OSError) as e:
                errors.append(e)
                warnings.warn(f"skipping unreadable compressed file {p!r}: {e}")
            continue
        if is_archive(p):
            try:
                # keep only data files: a README.md / LICENSE inside an
                # archive would either fail detect_format or — worse —
                # parse as TSV prose and union into the dataset
                from .discovery import _is_data_file

                members = extract(p)
                data = [m for m in members if _is_data_file(m)]
                skipped = len(members) - len(data)
                if skipped:
                    warnings.warn(
                        f"{p!r}: ignoring {skipped} non-data member(s)")
                out.extend(data)
            # ImportError: missing optional codec; ValueError: unknown
            # scheme/format; tarfile.ReadError / zipfile.BadZipFile /
            # OSError: corrupt or unreadable archive bytes — all are
            # per-file skips, matching the docstring contract.
            except (ImportError, ValueError, tarfile.ReadError,
                    zipfile.BadZipFile, OSError) as e:
                errors.append(e)
                warnings.warn(f"skipping unreadable archive {p!r}: {e}")
        else:
            out.append(p)
    if not out and errors:
        raise errors[0]
    return out
