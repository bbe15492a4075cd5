"""Standing assets: write-once / probe-many parquet tables under one root.

The reference's index families build a structure once and probe it many
times (BuildInvertedIndexCompressed.java writes the MapFile that
BooleanRetrievalCompressed.java seeks into). Every standing asset of
this engine goes through the same four steps, and this module is the
only place that knows them:

1. **key** — ``asset_path`` names the asset directory after its source
   fixture's (size, mtime_ns) plus the caller's prefix (family and
   version constant) and suffix (value-shaping parameters), so a
   regenerated fixture, a parameter change or a version bump each get a
   fresh directory instead of a stale one;
2. **gate** — ``ensure`` returns at once when every requested subdir of
   the key carries a ``_SUCCESS`` marker, so a warm probe writes nothing;
3. **temp build** — otherwise the caller's build function writes the
   subdirs into a private directory beside the key, removed whether or
   not the build succeeds;
4. **publish** — each subdir is renamed into place by
   ``_publish_subdir``, which keeps a complete copy already there and
   moves a torn one aside, so concurrent first-touch builds never
   interleave writes or delete a directory under a reader.

Consumers read a published subdir back through ``read`` with the DDL
each asset declares beside its version constant, so a warm probe also
launches no schema-inference job.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
INDEX_ROOT = os.environ.get(
    "SPARK_GRAFT_INDEX_DIR", os.path.join(_REPO_ROOT, "spark-warehouse")
)


def fixture_sig(sf_dir: str, table: str) -> tuple[int, int]:
    """(size, mtime_ns) of one fixture table: the data-generation half
    of every asset key."""
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    return st.st_size, st.st_mtime_ns


def asset_path(sf_dir: str, table: str, prefix: str, suffix: str) -> str:
    """``INDEX_ROOT/{prefix}_{label}_{size}_{mtime_ns}_{suffix}`` for the
    asset derived from ``table`` of the fixture directory ``sf_dir``."""
    size, mtime_ns = fixture_sig(sf_dir, table)
    label = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(INDEX_ROOT, f"{prefix}_{label}_{size}_{mtime_ns}_{suffix}")


def ensure(path: str, subs: tuple[str, ...], build: Callable[[str], None]) -> str:
    """Return ``path`` once every ``path/<sub>`` is published.

    ``build(tmp)`` must write each sub as ``tmp/<sub>`` (a Spark parquet
    write leaves the ``_SUCCESS`` marker the gate checks); it runs only
    when some sub is missing or torn."""
    if all(os.path.exists(os.path.join(path, sub, "_SUCCESS")) for sub in subs):
        return path
    tmp = f"{path}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        build(tmp)
        os.makedirs(path, exist_ok=True)
        for sub in subs:
            _publish_subdir(os.path.join(tmp, sub), os.path.join(path, sub))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def read(spark, path: str, sub: str, ddl: str):
    """One published subdir ``path/<sub>`` as a DataFrame, read with its
    declared DDL so no schema-inference job runs (partition columns come
    last in the DDL and resolve from directory names)."""
    return spark.read.schema(ddl).parquet(os.path.join(path, sub))


def _publish_subdir(src: str, dst: str) -> None:
    """Publish one complete build subdir at ``dst``, racing safely with
    concurrent publishers: a dst that already carries _SUCCESS always
    stands (never deleted out from under a reader); a TORN dst is moved
    ASIDE by rename (so a reader mid-listing keeps a valid path) and the
    rename into place is retried, treating "dst now complete" as success
    — the loser of any race discards its copy instead of raising."""
    for _ in range(5):
        if os.path.exists(os.path.join(dst, "_SUCCESS")):
            return
        try:
            os.rename(src, dst)
            return
        except OSError:
            # dst exists: complete (another publisher won — done) or
            # torn (move it aside, then retry the rename).
            if os.path.exists(os.path.join(dst, "_SUCCESS")):
                return
            torn = f"{dst}.torn-{os.getpid()}-{uuid.uuid4().hex[:8]}"
            try:
                os.rename(dst, torn)
            except OSError:
                continue  # a racer moved/replaced dst first; re-check
            if os.path.exists(os.path.join(torn, "_SUCCESS")):
                # TOCTOU guard: dst COMPLETED between the _SUCCESS
                # re-check and the move-aside, so ``torn`` is a complete
                # copy a reader may already have resolved
                # (spark.read.parquet lists files lazily at action
                # time). Publish it back instead of deleting it — this
                # is what makes the "never deleted out from under a
                # reader" guarantee hold; if a racer re-occupied dst
                # meanwhile, keep whichever complete copy stands and
                # only discard ours once dst carries _SUCCESS.
                try:
                    os.rename(torn, dst)
                    return
                except OSError:
                    if os.path.exists(os.path.join(dst, "_SUCCESS")):
                        shutil.rmtree(torn, ignore_errors=True)
                        return
                    # dst torn again: our complete copy becomes the
                    # publish source and the loop retries the rename.
                    src = torn
                    continue
            shutil.rmtree(torn, ignore_errors=True)
    raise OSError(f"could not publish {dst}: persistent publish race")
