"""The stage-once protocol of fixture-derived caches (``curation.stage_once``).

Every staged replay source and persisted index writes its cache dir
through one helper; these tests pin the helper's branches without a JVM,
pin the cache names it must keep producing (so existing caches are
reused across versions), and keep the protocol from being hand-rolled
again anywhere in ``plans/``.
"""

from __future__ import annotations

import ast
import os
import pathlib
import tempfile
import threading
import time

import pytest

from data_preparation_plugin_spark.plans import curation, events, similarity
from tests.conftest import SF_DIR, duckdb_result, spark_result

PLANS_DIR = pathlib.Path(curation.__file__).parent


def _markers(cache):
    return [os.path.join(cache, part, "_SUCCESS") for part in ("a", "b")]


def _complete(done):
    for p in done:
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").close()


def test_fast_path_takes_no_lock(tmp_path):
    cache = str(tmp_path / "cache")
    done = _markers(cache)
    _complete(done)
    with curation.stage_once(cache, done, "t", key="k") as must_write:
        assert not must_write
        assert not os.path.exists(os.path.join(cache, ".writer.lock"))
    assert not os.path.exists(os.path.join(cache, "_KEY"))


def test_first_build_writes_once_then_reads(tmp_path):
    cache = str(tmp_path / "cache")
    done = _markers(cache)
    with curation.stage_once(cache, done, "t") as must_write:
        assert must_write
        assert os.path.exists(os.path.join(cache, ".writer.lock"))
        _complete(done)
    assert not os.path.exists(os.path.join(cache, ".writer.lock"))
    with curation.stage_once(cache, done, "t") as must_write:
        assert not must_write


def test_force_rebuild_removes_markers_before_the_write(tmp_path):
    cache = str(tmp_path / "cache")
    done = _markers(cache)
    _complete(done)
    with curation.stage_once(cache, done, "t", force=True) as must_write:
        assert must_write
        assert not any(os.path.exists(p) for p in done)
        _complete(done)


def test_key_none_skips_key_file_and_cleanup(tmp_path):
    root = tmp_path / "root"
    same_key = root / "sf-aaaaaaaaaaaa"
    same_key.mkdir(parents=True)
    (same_key / "_KEY").write_text("sf")
    legacy = root / "sf-bbbbbbbbbbbb"  # pre-_KEY epoch of the same layout
    legacy.mkdir()
    cache = str(root / "sf-cccccccccccc")
    done = _markers(cache)

    with curation.stage_once(cache, done, "t") as must_write:
        assert must_write
        assert not os.path.exists(os.path.join(cache, "_KEY"))
        assert same_key.exists() and legacy.exists()

    # The same call with a key retires both stale epochs and records the
    # key before the caller writes any data.
    with curation.stage_once(cache, done, "t", key="sf") as must_write:
        assert must_write
        assert pathlib.Path(cache, "_KEY").read_text() == "sf"
        assert not same_key.exists() and not legacy.exists()


def test_waiter_takes_over_when_the_writer_raises(tmp_path, monkeypatch):
    """A writer that raises releases the lock and leaves no markers; the
    waiter must take the lock over and write, not wait out the timeout
    and then blame a lockfile that no longer exists."""
    monkeypatch.setattr(curation, "WRITER_LOCK_TIMEOUT_S", 2.0)
    cache = str(tmp_path / "cache")
    done = _markers(cache)
    holding = threading.Event()
    writer_error = []

    def failing_writer():
        try:
            with curation.single_writer(cache, done, "t") as acquired:
                assert acquired
                holding.set()
                time.sleep(0.3)
                raise RuntimeError("writer died mid-build")
        except RuntimeError as e:
            writer_error.append(e)

    t = threading.Thread(target=failing_writer)
    t.start()
    assert holding.wait(5)
    start = time.monotonic()
    with curation.single_writer(cache, done, "t") as acquired:
        assert acquired, "waiter must take over the released lock"
        _complete(done)
    t.join(5)
    assert not t.is_alive() and writer_error
    assert time.monotonic() - start < 1.5
    assert all(os.path.exists(p) for p in done)
    assert not os.path.exists(os.path.join(cache, ".writer.lock"))


# Cache names and _KEY contents exactly as the hand-written sites
# produced them: existing caches must be reused, not rebuilt.
_PINNED_DIGEST = {
    "events": "5fd455c79436",
    "documents": "5fd455c79436",
    "embeddings|full": "aa975575d987",
    "embeddings|base-8-9": "473015bc0ff5",
}


@pytest.fixture
def pinned_fixture(tmp_path, monkeypatch):
    """A fake fixture dir ``sf-pin`` (relative, so the path string is
    fixed) whose tables have a fixed size and mtime."""
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs("tmp")
    os.makedirs("sf-pin")
    for table in ("events", "documents", "embeddings"):
        path = os.path.join("sf-pin", f"{table}.parquet")
        with open(path, "wb") as f:
            f.write(b"x" * 100)
        ns = 1_700_000_000_000_000_000
        os.utime(path, ns=(ns, ns))
    return "sf-pin"


def test_stage_events_name_and_key_are_pinned(pinned_fixture, monkeypatch):
    class FakeFrame:
        """Stands in for the events table: the write lands a marker."""

        @property
        def write(self):
            return self

        def repartition(self, n):
            return self

        def mode(self, m):
            return self

        def parquet(self, path):
            os.makedirs(path, exist_ok=True)
            open(os.path.join(path, "_SUCCESS"), "w").close()

    loads = []
    monkeypatch.setattr(
        events,
        "load_table",
        lambda spark, sf, table: loads.append(table) or FakeFrame(),
    )
    staged = events._stage_events(None, pinned_fixture)
    root = tempfile.gettempdir()
    assert os.path.relpath(staged, root) == os.path.join(
        "dpp-events-replay", f"sf-pin-{_PINNED_DIGEST['events']}", "events"
    )
    key_file = pathlib.Path(staged).parent / "_KEY"
    assert key_file.read_text() == "sf-pin"
    assert events._stage_events(None, pinned_fixture) == staged
    assert loads == ["events"], "second call must hit the cache"


def test_index_dir_and_table_names_are_pinned(pinned_fixture):
    assert curation.archive_index_dir(pinned_fixture) == os.path.join(
        curation._ARCHIVE_IDX_ROOT, f"sf-pin-{_PINNED_DIGEST['documents']}"
    )
    ivf_root = os.path.join(tempfile.gettempdir(), "dpp-ivf-index")
    assert similarity.ivf_index_dir(pinned_fixture) == os.path.join(
        ivf_root, f"sf-pin-{_PINNED_DIGEST['embeddings|full']}"
    )
    assert similarity.ivf_index_dir(
        pinned_fixture, variant="base-8-9"
    ) == os.path.join(
        ivf_root, f"sf-pin-{_PINNED_DIGEST['embeddings|base-8-9']}"
    )
    assert events.quantile_sink_table(pinned_fixture) == (
        f"dpp_stream_quantile_cells_{_PINNED_DIGEST['events']}"
    )


# The protocol's primitives may appear only inside the helpers that own
# them; a new cache that hand-rolls the lock, the key or the digest again
# (how a staging helper once served a stale epoch) fails here.
_HELPERS = {"single_writer", "stage_once", "fixture_digest"}
_PROTOCOL_CALLS = {
    "single_writer",
    "write_cache_key",
    "cleanup_stale_cache_dirs",
}


def _protocol_uses(tree):
    """(line, what, enclosing top-level def) for each protocol primitive."""
    out = []
    for top in tree.body:
        owner = getattr(top, "name", None)
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                f = node.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                if name in _PROTOCOL_CALLS:
                    out.append((node.lineno, f"{name}(", owner))
            elif isinstance(node, ast.Attribute) and node.attr == "O_EXCL":
                out.append((node.lineno, "os.O_EXCL", owner))
            elif (
                isinstance(node, ast.Subscript)
                and isinstance(node.value, ast.Call)
                and getattr(node.value.func, "attr", None) == "hexdigest"
                and isinstance(node.slice, ast.Slice)
                and getattr(node.slice.upper, "value", None) == 12
            ):
                out.append((node.lineno, ".hexdigest()[:12]", owner))
    return out


def test_cache_protocol_lives_only_in_the_curation_helpers():
    offenders = []
    for path in sorted(PLANS_DIR.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for line, what, owner in _protocol_uses(tree):
            if path.name != "curation.py" or owner not in _HELPERS:
                offenders.append(f"{path.name}:{line} {what} in {owner}")
    assert not offenders, offenders


def test_cache_protocol_primitives_not_imported_outside_curation():
    for name in ("events.py", "similarity.py"):
        tree = ast.parse((PLANS_DIR / name).read_text())
        imported = {
            alias.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for alias in node.names
        }
        assert not imported & _PROTOCOL_CALLS, (name, imported)
        defs = {
            n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
        }
        assert "_retire_legacy_flat_stages" not in defs


def test_stream_merge_totals_leaves_no_temp_dirs(
    spark, oracle, tmp_path, monkeypatch
):
    """The checkpoint and MERGE-target dirs are removed once the result is
    materialized; the answer still matches the oracle."""
    from data_preparation_plugin_spark import plans

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    query = plans.QUERIES["events_stream_merge_totals"]
    got = spark_result(query.builder(spark, SF_DIR))
    assert not [p.name for p in tmp_path.glob("dpp-stream-merge-*")]
    assert got == duckdb_result(oracle, query.oracle)
