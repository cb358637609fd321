"""Carrying unchanged files into a new version directory.

A new dictionary, block, positions or dedup-label version reuses every
partition its commit did not rewrite. A hardlink shares those bytes
without copying them; where the filesystem refuses links (object-store
and FUSE mounts, FAT, paths across devices) the file is copied instead,
which gives the same bytes at the cost of the copy."""

from __future__ import annotations

import os
import shutil


def link_or_copy(src: str, dst: str) -> str:
    """Hardlink ``src`` as ``dst``, or copy it with its metadata when the
    link fails. An existing ``dst`` is an error either way, never
    silently overwritten."""
    try:
        os.link(src, dst)
    except FileExistsError:
        raise
    except OSError:
        shutil.copy2(src, dst)
    return dst


def link_tree(src: str, dst: str) -> None:
    """Recreate the directory tree ``src`` at ``dst`` (which must not
    exist), every file carried over by link_or_copy."""
    shutil.copytree(src, dst, copy_function=link_or_copy)
