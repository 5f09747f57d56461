"""The persisted-index store: every ingest-time index (LSH, IVF,
cosine-IVF, MinHash bands, shingles) is keyed, built, published,
served and fallen back through this one module.

- **Key.** ``<INDEX_ROOT>/<fingerprint of the source parquet>/<name>``;
  the fingerprint covers path + size + mtime, so a regenerated fixture
  rebuilds and every process (pytest, bench.py, perfbench, ``__spark_entry__``)
  shares one cache regardless of cwd.
- **Warm check.** ``_SUCCESS`` plus every declared sidecar file — stat
  calls only: no lock, no Spark job.
- **Cold build.** Under ``sources.mutations.table_lock`` with a second
  warm check once the lock is held (two cold callers build once), then
  ``sources.mutations.publish``: data and sidecars are staged together
  and renamed in together, so a failed build leaves nothing at the
  index path.
- **Serving.** :func:`served` runs a query site's index-backed plan and
  falls back to its row-identical inline pipeline when the index is
  unavailable, warning once per site. :func:`events` counts every
  fallback, so ``tools/plan_audit.py`` can apply a query's cold budget;
  ``SPARK_GRAFT_FORCE_FALLBACK=1`` forces every site inline
  (``plan_audit.py --cold``).

No reference counterpart: the reference leaves index building and
durability to PostgreSQL (``db_connector.py``).
"""

from __future__ import annotations

import hashlib
import json
import logging
import os

from etl_generator_demo_spark.sources.mutations import publish, table_lock

#: On-disk cache root. Lives inside the repo (gitignored) so any
#: process shares one cache regardless of cwd.
INDEX_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".index_cache",
)

_log = logging.getLogger(__name__)
_warned_fallbacks: set[str] = set()
_n_events: int = 0


def fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """Fingerprint the source parquet so a regenerated fixture (same
    path, new contents) invalidates the cache."""
    p = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    try:
        st = os.stat(p)
        raw = f"{p}|{st.st_size}|{int(st.st_mtime)}"
    except OSError:
        raw = p
    return hashlib.md5(raw.encode()).hexdigest()[:12]


def index_path(sf_dir: str, name: str, table: str = "embeddings") -> str:
    """Where the index ``name`` over ``sf_dir``'s ``table`` lives."""
    return os.path.join(INDEX_ROOT, fingerprint(sf_dir, table), name)


def _is_warm(path: str, sidecars: tuple[str, ...]) -> bool:
    # _SUCCESS, not the directory: only publish's rename puts it there
    return all(os.path.exists(os.path.join(path, f)) for f in ("_SUCCESS", *sidecars))


def ensure(
    spark,
    path: str,
    build,
    partition_by: tuple[str, ...] = (),
    sidecars: tuple[str, ...] = (),
) -> tuple:
    """Build the index at ``path`` if the cache is cold; return
    ``(path, *sidecar values)``. ``build()`` returns
    ``(DataFrame, *sidecar values)`` in ``sidecars`` order — the values
    are JSON model state (centroids, radii) published next to the data,
    ``partition_by`` its directory layout. Warm calls stat and read the
    sidecar JSON only."""
    if not _is_warm(path, sidecars):
        with table_lock(path):
            if not _is_warm(path, sidecars):
                df, *values = build()
                publish(
                    spark,
                    path,
                    df,
                    sidecars=dict(zip(sidecars, values)),
                    partition_by=partition_by,
                )
    loaded = []
    for name in sidecars:
        with open(os.path.join(path, name)) as fh:
            loaded.append(json.load(fh))
    return (path, *loaded)


# -- serving with an inline fallback ---------------------------------------


class FallbackForced(RuntimeError):
    """Raised by :func:`check_forced` under SPARK_GRAFT_FORCE_FALLBACK
    so :func:`served` takes the inline path."""


def check_forced(site: str) -> None:
    """Raise when the environment demands the inline-fallback path
    (deterministic cold-state plan audits)."""
    if os.environ.get("SPARK_GRAFT_FORCE_FALLBACK"):
        raise FallbackForced(f"{site}: fallback forced by SPARK_GRAFT_FORCE_FALLBACK")


def events() -> int:
    """Total fallback occurrences this process (every call, not just
    the first per site) — diff around a plan build to attribute a
    fallback to one query."""
    return _n_events


def warn_fallback_once(site: str, exc: Exception) -> None:
    """Record a fallback occurrence; log the persisted-index-unavailable
    warning once per site (a forced fallback is intentional — counted,
    never warned)."""
    global _n_events
    _n_events += 1
    if site not in _warned_fallbacks and not isinstance(exc, FallbackForced):
        _warned_fallbacks.add(site)
        _log.warning(
            "%s: persisted index unavailable (%s: %s); falling back to "
            "the inline pipeline — results identical, ingest-stage cost "
            "now paid per query",
            site,
            type(exc).__name__,
            exc,
        )


def served(site: str, indexed, inline):
    """``indexed()`` — the plan over the persisted index — or, when the
    index can't be built or read (unwritable cache root, corrupt
    store, or a forced fallback), ``inline()``: the row-identical
    pipeline that pays the ingest cost per query. A permanent failure
    would otherwise be invisible, hence the once-per-site warning."""
    try:
        check_forced(site)
        return indexed()
    except Exception as exc:
        warn_fallback_once(site, exc)
        return inline()
