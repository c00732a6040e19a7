"""The staging tier: every memoized intermediate of a session, in one dict.

Operators stage an intermediate once and read it many times (checkpointed
relations such as tokenized docs or MinHash pairs, and driver-row model
state such as trained codebooks or BPE merges). Each builder is wrapped in
``@staged``, which keys its entry on (builder name, applicationId, sf_dir,
remaining args with defaults applied) — so a new SparkSession or fixture
directory never reads a stale entry — and ``clear()`` drops entries without
a hand-kept list of what exists. Every builder is deterministic, so
clearing only costs a rebuild.
"""

from __future__ import annotations

import functools
import inspect

_ENTRIES: dict[tuple, object] = {}


def staged(fn):
    """Memoize ``fn(spark, sf_dir, *args)`` in the staging tier."""
    sig = inspect.signature(fn)

    def key(spark, sf_dir, *args, **kwargs) -> tuple:
        bound = sig.bind(spark, sf_dir, *args, **kwargs)
        bound.apply_defaults()
        rest = tuple(bound.arguments.values())[2:]
        return (fn.__name__, spark.sparkContext.applicationId, sf_dir, *rest)

    @functools.wraps(fn)
    def wrapper(spark, sf_dir, *args, **kwargs):
        k = key(spark, sf_dir, *args, **kwargs)
        if k not in _ENTRIES:
            _ENTRIES[k] = fn(spark, sf_dir, *args, **kwargs)
        return _ENTRIES[k]

    wrapper.key = key
    return wrapper


def clear(*builders) -> None:
    """Drop every staged entry, or only the entries of ``builders``."""
    names = {b.__name__ for b in builders}
    for k in [k for k in _ENTRIES if not names or k[0] in names]:
        del _ENTRIES[k]
