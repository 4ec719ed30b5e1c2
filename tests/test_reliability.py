"""Unit tests for the orchestration/reliability operators (SURVEY.md
§2.11 R1-R4) — the reference's non-SQL substance, so pytest rather
than DuckDB oracles (SURVEY.md §5)."""

import pytest

from oracle_cassandra_migrator_spark.reliability.retry import retry
from oracle_cassandra_migrator_spark.reliability.state import LocalFSStateStore


class TestRetry:
    def test_succeeds_first_try(self):
        calls = []

        @retry(retries=3, delay=0.0, sleep=lambda s: None)
        def ok():
            calls.append(1)
            return "done"

        assert ok() == "done"
        assert len(calls) == 1

    def test_retries_then_succeeds(self):
        attempts = {"n": 0}

        @retry(retries=3, delay=1.0, backoff=2.0, sleep=lambda s: None)
        def flaky():
            attempts["n"] += 1
            if attempts["n"] < 3:
                raise IOError("transient")
            return attempts["n"]

        assert flaky() == 3

    def test_exhausts_and_raises(self):
        @retry(retries=3, delay=0.0, sleep=lambda s: None)
        def always_fails():
            raise ValueError("permanent")

        with pytest.raises(ValueError):
            always_fails()

    def test_backoff_schedule(self):
        waits = []

        @retry(retries=4, delay=5.0, backoff=2.0, sleep=waits.append)
        def fails():
            raise RuntimeError("x")

        with pytest.raises(RuntimeError):
            fails()
        # reference defaults: 5s then 10s then 20s (py:19-36)
        assert waits == [5.0, 10.0, 20.0]

    def test_exception_filter_passes_through(self):
        @retry(retries=3, delay=0.0, exceptions=(IOError,),
               sleep=lambda s: None)
        def wrong_kind():
            raise KeyError("not retryable")

        with pytest.raises(KeyError):
            wrong_kind()


class TestStateStore:
    def test_marker_roundtrip(self, tmp_path):
        store = LocalFSStateStore()
        marker = str(tmp_path / "part-0.parquet.checkpoint")
        assert not store.exists(marker)
        store.put_marker(marker)
        assert store.exists(marker)
        store.delete(marker)
        assert not store.exists(marker)

    def test_checkpoint_key_is_file_level(self, tmp_path):
        store = LocalFSStateStore()
        # mirrors reference py:330-331: `<staged file>.checkpoint`
        assert store.checkpoint_key("/x/part-1.parquet") == \
            "/x/part-1.parquet.checkpoint"

    def test_list_filters_suffix(self, tmp_path):
        store = LocalFSStateStore()
        (tmp_path / "a.parquet").write_text("")
        (tmp_path / "b.parquet").write_text("")
        (tmp_path / "b.parquet.checkpoint").write_text("")
        files = store.list(str(tmp_path), suffix=".parquet")
        assert [f.split("/")[-1] for f in files] == ["a.parquet", "b.parquet"]

    def test_output_committed_requires_success_marker(self, tmp_path):
        store = LocalFSStateStore()
        out = tmp_path / "staged"
        out.mkdir()
        assert not store.output_committed(str(out))
        (out / "_SUCCESS").write_text("")
        assert store.output_committed(str(out))
