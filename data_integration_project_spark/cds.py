"""A class-data-sharing archive for the driver JVM that
:func:`session.get_spark` starts.

A Spark driver loads ~12k classes before its first query. JDK 17 can
map them from a dynamic AppCDS archive (``-XX:SharedArchiveFile``)
instead of parsing and verifying each one, but it cannot create the
archive on first use as JDK 19's ``-XX:+AutoCreateSharedArchive`` does.
This module does that step:

* With no archive, the JVM records the classes it loads and writes them
  to a dump when it exits (``-XX:ArchiveClassesAtExit``), with the dump's
  own log beside it.
* A later start moves a dump into place only once its log reports
  ``Written dynamic archive`` and the file holds every region the log
  lists, then maps it. A dump whose JVM died first is removed.

Archives live under ``$XDG_CACHE_HOME`` (default ``~/.cache``), one
directory per driver heap and key (the JDK and the Spark jar set); the
heap is part of the key because it decides compressed oops, which the
archive must match. Deleting :func:`cache_root` resets everything.

CDS refuses a classpath that holds a non-empty directory, and the
launcher puts the Spark conf dir on it. So the conf dir is swapped for
an empty one only when it holds nothing but ``*.template`` files;
otherwise no archive is used and :data:`STATUS` says why. JVM output
about the archive goes to the log files, never to stdout.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import re
import shutil
import uuid

_log = logging.getLogger(__name__)

#: The archive state of the driver JVM this process started last:
#: ``mapped`` (bool), ``reason`` (why not, or None) and ``archive``
#: (the file mapped or being written, or None).
STATUS: dict = {"mapped": False, "reason": "no JVM started", "archive": None}

_WRITTEN = "Written dynamic archive"
_MAPPED = "Mapped dynamic region"
# region lines of a dump log: "... (ro )  1: 84876056 bytes, addr ... file offset 0x03414000 ..."
_REGION = re.compile(r"Shared file region .*?: *(\d+) bytes, .*?file offset 0x([0-9a-f]+)")
# the path is spliced into -Xlog and into a whitespace-split option string
_UNSAFE_PATH = re.compile(r"[\s,:=\"']")

# JVM stdout keeps every warning except the archive's; the archive's go
# to the file named after "file="
_XLOG = (
    "-Xlog:all=warning,cds*=off:stdout:uptime,level,tags"
    " -Xlog:cds=info,cds+dynamic=info:file={}::filecount=0"
)

#: Set by :func:`java_options` for :func:`settle`: (mode, token, dir).
_pending: tuple[str, str, str] | None = None


def cache_root() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "data_integration_project_spark", "cds")


def _spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def _java_home() -> str:
    home = os.environ.get("JAVA_HOME")
    if home:
        return os.path.realpath(home)
    java = shutil.which("java")
    if java is None:
        raise OSError("no java on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def _key(heap: str, spark_home: str) -> str:
    """``<heap>-<hash>``; the hash covers the JDK's files and every Spark
    jar by name, size and mtime."""
    java = _java_home()
    paths = [os.path.join(java, p) for p in ("release", "lib/modules", "lib/server/libjvm.so")]
    jars = os.path.join(spark_home, "jars")
    paths += [os.path.join(jars, n) for n in sorted(os.listdir(jars))]
    h = hashlib.sha256()
    for p in paths:
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return f"{heap}-{h.hexdigest()[:16]}"


def _alive(pid: int) -> bool:
    """Whether ``pid`` runs. A JVM that outlived its Python process is
    re-parented, and can stay a zombie after it exits when its new
    parent does not reap it."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def _owner(d: str, token: str) -> int:
    """The pid that writes dump ``token``: its JVM once :func:`settle`
    recorded it, else the Python process that started it."""
    try:
        with open(os.path.join(d, f"dump-{token}.pid")) as f:
            return int(f.read())
    except (OSError, ValueError):
        return int(token.split("-")[0])


def _remove(*paths: str) -> None:
    for p in paths:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass


def _read(path: str) -> str:
    with open(path, errors="replace") as f:
        return f.read()


def _regions_end(log: str) -> int:
    """The file size a dump needs to hold every region its log lists."""
    return max((int(off, 16) + int(n) for n, off in _REGION.findall(log)), default=0)


def _dumps(d: str) -> tuple[list[str], bool, bool]:
    """Sort the dumps in ``d``: the tokens of finished ones, whether one
    is still being written, and whether a dead JVM left one unfinished
    (it is removed)."""
    done, running, broken = [], False, False
    tokens = {n[5:].rsplit(".", 1)[0] for n in os.listdir(d) if n.startswith("dump-")}
    for token in sorted(tokens):
        files = [os.path.join(d, f"dump-{token}.{ext}") for ext in ("jsa", "log", "pid")]
        try:
            log = _read(files[1])
        except FileNotFoundError:
            log = ""
        size = os.path.getsize(files[0]) if os.path.exists(files[0]) else 0
        if _WRITTEN in log and size >= _regions_end(log) > 0:
            done.append(token)
        elif _alive(_owner(d, token)):
            running = True
        else:
            broken = True
            _remove(*files)
    return done, running, broken


def _install(d: str, token: str) -> None:
    """Move a finished dump into place as ``archive.jsa``, with its size
    in ``archive.json``. A start killed between the two renames leaves an
    archive with no size record, which the next start removes."""
    jsa, meta = os.path.join(d, "archive.jsa"), os.path.join(d, "archive.json")
    dump = os.path.join(d, f"dump-{token}.jsa")
    with open(meta + ".tmp", "w") as f:
        json.dump({"size": os.path.getsize(dump)}, f)
    _remove(meta)
    os.replace(dump, jsa)
    os.replace(meta + ".tmp", meta)
    _remove(os.path.join(d, f"dump-{token}.log"), os.path.join(d, f"dump-{token}.pid"))


def _archive_ok(d: str) -> str | None:
    """None when ``d`` holds a whole archive, else why not (a partial
    one is removed: mapping a short file crashes the JVM)."""
    jsa, meta = os.path.join(d, "archive.jsa"), os.path.join(d, "archive.json")
    if not os.path.exists(jsa):
        return "no archive"
    try:
        with open(meta) as f:
            want = json.load(f)["size"]
    except (OSError, ValueError, KeyError):
        want = None
    if want != os.path.getsize(jsa):
        _remove(jsa, meta)
        return "archive truncated"
    return None


def _skip(reason: str) -> None:
    STATUS.update(mapped=False, reason=reason, archive=None)
    _log.warning("class-data archive not used: %s", reason)


def java_options(heap: str) -> str | None:
    """The driver JVM options that map this heap's archive, or that
    write one when the JVM exits; None when no archive can be used (or
    a dump is already being written). Call right before the JVM starts;
    :func:`settle` finishes the record once it is up."""
    global _pending
    _pending = None
    root = cache_root()
    if _UNSAFE_PATH.search(root):
        return _skip(f"cache path has a character -Xlog cannot take: {root}")
    try:
        spark_home = _spark_home()
        key = _key(heap, spark_home)
        conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if os.path.isdir(conf) and any(not n.endswith(".template") for n in os.listdir(conf)):
            return _skip(f"conf dir not empty: {conf}")
        empty_conf = os.path.join(root, "conf")
        d = os.path.join(root, key)
        os.makedirs(empty_conf, exist_ok=True)
        os.makedirs(d, exist_ok=True)
        reasons = []
        for other in os.listdir(root):
            if other != key and other.startswith(f"{heap}-"):
                shutil.rmtree(os.path.join(root, other), ignore_errors=True)
                reasons.append("stale key")
        for n in os.listdir(d):
            if n.startswith("map-") and not _alive(int(n[4:].split("-")[0])):
                _remove(os.path.join(d, n))
        done, running, broken = _dumps(d)
        if broken:
            reasons.append("dump incomplete")
        bad = _archive_ok(d)
        if bad == "archive truncated":
            reasons.append(bad)
        if bad and done:
            _install(d, done.pop(0))
            bad = None
        for token in done:  # a second finished dump of the same key
            _remove(*(os.path.join(d, f"dump-{token}.{ext}") for ext in ("jsa", "log", "pid")))
    except OSError as exc:
        return _skip(f"cache unusable: {exc}")
    # Spark's conf dir is on the classpath; it holds only templates here
    os.environ["SPARK_CONF_DIR"] = empty_conf
    token = f"{os.getpid()}-{uuid.uuid4().hex[:8]}"
    if not bad:
        _pending = ("map", token, d)
        return f"-XX:SharedArchiveFile={os.path.join(d, 'archive.jsa')} " + _XLOG.format(
            os.path.join(d, f"map-{token}.log")
        )
    if running:
        return _skip("dump in progress")
    _pending = ("dump", token, d)
    STATUS.update(
        mapped=False,
        reason=", ".join(dict.fromkeys(reasons)) or "created now",
        archive=os.path.join(d, f"dump-{token}.jsa"),
    )
    return f"-XX:ArchiveClassesAtExit={STATUS['archive']} " + _XLOG.format(
        os.path.join(d, f"dump-{token}.log")
    )


def settle(spark) -> None:
    """Record whether the JVM that :func:`java_options` configured mapped
    its archive. A JVM that rejected the archive gets it removed, so the
    next start writes a new one."""
    global _pending
    if _pending is None:
        return
    mode, token, d = _pending
    _pending = None
    if mode == "dump":
        # the JVM outlives this process while it writes the dump
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(os.path.join(d, f"dump-{token}.pid"), "w") as f:
            f.write(str(pid))
        _log.info(
            "class-data archive not mapped (%s); writing %s", STATUS["reason"], STATUS["archive"]
        )
        return
    log_path = os.path.join(d, f"map-{token}.log")
    try:
        log = _read(log_path)
    except OSError:
        log = ""
    _remove(log_path)
    archive = os.path.join(d, "archive.jsa")
    if _MAPPED in log and "Unable to use shared archive" not in log:
        STATUS.update(mapped=True, reason=None, archive=archive)
        _log.info("class-data archive mapped: %s", archive)
        return
    warned = [ln.split("] ", 3)[-1] for ln in log.splitlines() if "[warning]" in ln]
    _remove(archive, os.path.join(d, "archive.json"))
    _skip("archive rejected: " + (warned[0] if warned else "no mapped region logged"))
