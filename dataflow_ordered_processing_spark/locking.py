"""On-disk commit protocol shared by the epoch sink, the hot-key channel
and the IVF index: the committed-directory listing and advisory file
locking for their maintainers (sink epoch compaction, IVF index
build/append/compact).

One implementation of the protocol both sites previously hand-coded
(review r6d — the r5d ENOLCK fix had to be re-derived for the second
copy): an exclusive `fcntl.flock`, which beats mtime-staleness protocols
on every axis the r5c review probed — acquisition is atomic (no
check-then-remove takeover race), a crashed holder's lock is released by
the kernel (no staleness heuristic to mis-fire on a long-lived live
holder), and there is nothing to heartbeat. Scope: local filesystems and
NFSv4; object stores need external coordination (README ops note).
"""

from __future__ import annotations

import os


def committed_dirs(base: str, prefix: str, key=int) -> list[tuple]:
    """Committed `<prefix>=<value>` subdirectories of `base` as
    `[(key(value), path)]`, ascending; [] when `base` does not exist.

    Committed == holds a `_SUCCESS` marker, the one visibility criterion
    of every writer here: a crash mid-write leaves a dir without it, and
    its rows must stay invisible until the overwrite completes (a
    merge_on_key replay that saw them would anti-join them out of the
    fresh batch and then overwrite the partial dir with only the rest).

    Listed explicitly rather than read through a `<prefix>=*` glob: Spark
    probes a literal glob for streaming-sink metadata and logs a WARN with
    a full Java stack each time (FileStreamSink.hasMetadata)."""
    if not os.path.isdir(base):
        return []
    out = []
    for d in os.listdir(base):
        name, sep, value = d.partition("=")
        p = os.path.join(base, d)
        if sep and name == prefix and os.path.exists(os.path.join(p, "_SUCCESS")):
            out.append((key(value), p))
    return sorted(out)


def try_flock(lock_path: str, blocking: bool, what: str, advice: str):
    """Acquire an exclusive advisory flock on `lock_path`.

    Returns an open fd the caller must `os.close()` to release (the
    kernel releases it if the process dies), or None when a NON-blocking
    attempt found the lock held (contention — skip the pass).

    If the lock facility itself is unavailable (e.g. ENOLCK on NFSv3
    without a lock manager), that is NOT contention: treating it as held
    would silently disable the maintenance forever (review r5d). The
    call warns naming `what`/`advice` and proceeds UNLOCKED — correct
    for the normal single-maintainer deployment, the caller's documented
    caveat otherwise.
    """
    import fcntl
    import warnings

    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR)
    flags = fcntl.LOCK_EX | (0 if blocking else fcntl.LOCK_NB)
    try:
        fcntl.flock(fd, flags)
    except BlockingIOError:
        os.close(fd)
        return None
    except OSError as e:
        warnings.warn(
            f"{what}: flock unavailable on {lock_path!r} ({e}); proceeding "
            f"without the advisory lock — {advice}",
            RuntimeWarning,
            stacklevel=3,
        )
    return fd
