"""Python reference implementations of the Catalyst text expressions
in functions/text.py: the UTF-8 byte-budget trim and the
width-bucketed packer. The tests compare the JVM expressions against
these row by row."""

from __future__ import annotations

from typing import List, Optional

from clinvar_pipeline_spark.config import TRIM_SUFFIX
from clinvar_pipeline_spark.functions.text import _JOINER, _keep_bytes


def byte_trim_py(s: Optional[str], budget: int) -> Optional[str]:
    """Python reference implementation of :func:`byte_trim`."""
    keep = _keep_bytes(budget)
    if s is None:
        return None
    raw = s.encode("utf-8")
    if len(raw) <= budget:
        return s
    # cut at the byte budget, dropping any trailing incomplete multibyte
    # sequence (input is valid UTF-8, so 'ignore' only ever drops that)
    return raw[:keep].decode("utf-8", errors="ignore") + TRIM_SUFFIX


def pack_py(items: Optional[List[str]], width: int) -> Optional[List[List[str]]]:
    """Python reference implementation of :func:`pack_width_buckets`."""
    if items is None:
        return None
    buckets: List[List[str]] = []
    cur: List[str] = []
    cur_len = 0
    for e in sorted(set(items)):
        add = len(e) if not cur else cur_len + len(_JOINER) + len(e)
        if cur and add > width:
            buckets.append(cur)
            cur, cur_len = [e], len(e)
        else:
            cur, cur_len = cur + [e], add
    if cur or not buckets:
        buckets.append(cur)
    return buckets
