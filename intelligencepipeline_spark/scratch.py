"""tmpfs-backed scratch directories for checkpoints and staging I/O.

Streaming proofs and staging writes used to allocate under /tmp (disk):
on this host each microbatch checkpoint fsync and every staged parquet
paid rotational/VM I/O latency that is pure overhead for transient
state. ``scratch_dir`` allocates under a RAM-backed root instead
(/dev/shm when present — 126 GB on the bench host) with a disk
fallback, and is the single place to point somewhere else
($IP_SCRATCH; on a real cluster use a fast local SSD or leave
checkpoints on durable storage — a RAM checkpoint is only correct for
tests/bench where the proof re-runs from scratch anyway).

Lifecycle: RAM is a shared resource, so scratch is OWNED PER PROCESS —
everything lands under ``<root>/<pid>``, removed at interpreter exit
(atexit), and on startup any sibling pid-dir whose process is gone is
swept (crashed runs can't accumulate; one catalog run allocates
~1000 dirs / ~1 GB at sf0.1)."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_ROOT: str | None = None


def pid_alive(pid: int) -> bool:
    """True while process ``pid`` exists on this host."""
    return os.path.exists(f"/proc/{pid}")


def _sweep_dead(base: str) -> None:
    try:
        for d in os.listdir(base):
            if not d.isdigit() or int(d) == os.getpid():
                continue
            if not pid_alive(int(d)):
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    except OSError:
        pass


def scratch_root() -> str:
    global _ROOT
    if _ROOT is None:
        base = os.environ.get("IP_SCRATCH")
        if not base:
            shm = "/dev/shm"
            base = (
                shm
                if os.path.isdir(shm) and os.access(shm, os.W_OK)
                else tempfile.gettempdir()
            )
        top = os.path.join(base, "ip_scratch")
        os.makedirs(top, exist_ok=True)
        _sweep_dead(top)
        root = os.path.join(top, str(os.getpid()))
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _ROOT = root
    return _ROOT


def scratch_dir(prefix: str) -> str:
    """A fresh scratch directory (tmpfs when available), owned by this
    process and removed at exit."""
    return tempfile.mkdtemp(prefix=prefix, dir=scratch_root())
