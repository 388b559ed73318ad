"""DuckDB oracle results, computed once per corpus and checked with
``tools/check.py``'s ``check_key``.

The oracle of each op (``registry.ORACLES``) runs once per corpus
fingerprint; its columns, types and result frame are cached as a pickle
under the benchmark's work directory. ``check_key`` is then handed the
op's already-fetched result and the cached oracle, so the comparison is
the repository's own (row count, column names, normalised types,
order-insensitive normalised values) and nothing executes twice.
"""

from __future__ import annotations

import os
import pickle


class CachedRelation:
    """The parts of a DuckDB relation that ``check_key`` reads."""

    def __init__(self, columns: list[str], types: list[str], frame):
        self.columns = columns
        self.types = types
        self._frame = frame

    def df(self):
        return self._frame

    def __len__(self) -> int:
        return len(self._frame)


class CachedConn:
    """Stands in for the DuckDB connection ``check_key`` queries once."""

    def __init__(self, relation: CachedRelation):
        self._relation = relation

    def sql(self, _oracle_sql: str) -> CachedRelation:
        return self._relation


class Fetched:
    """An executed op result, shaped like the DataFrame ``check_key`` reads."""

    def __init__(self, columns: list[str], dtypes: list[tuple[str, str]], frame):
        self.columns = columns
        self.dtypes = dtypes
        self._frame = frame

    def toPandas(self):  # noqa: N802 - the DataFrame method name check_key calls
        return self._frame


def load(cache_dir: str, fingerprint: str, sf_dir: str, keys, oracles: dict[str, str],
         duck_conn) -> tuple[dict[str, CachedRelation], float]:
    """Return ``{key: CachedRelation}`` for ``keys`` and the seconds spent
    computing the ones not cached yet. ``duck_conn(sf_dir)`` is
    ``tools/check.py``'s view-registering connection factory."""
    import time

    out: dict[str, CachedRelation] = {}
    spent = 0.0
    d = os.path.join(cache_dir, fingerprint)
    os.makedirs(d, exist_ok=True)
    conn = None
    try:
        for key in keys:
            path = os.path.join(d, f"{key}.pkl")
            if os.path.exists(path):
                with open(path, "rb") as fh:
                    # written by this module below, never taken from outside
                    out[key] = CachedRelation(*pickle.load(fh))
                continue
            t0 = time.perf_counter()
            if conn is None:
                conn = duck_conn(sf_dir)
            rel = conn.sql(oracles[key])
            entry = (list(rel.columns), [str(t) for t in rel.types], rel.df())
            spent += time.perf_counter() - t0
            tmp = path + f".{os.getpid()}.tmp"
            with open(tmp, "wb") as fh:
                pickle.dump(entry, fh)
            os.replace(tmp, path)
            out[key] = CachedRelation(*entry)
    finally:
        if conn is not None:
            conn.close()
    return out, spent
