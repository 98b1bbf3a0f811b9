"""The session memo (io.session_memo) off the happy path: a table
regenerated in place, a dropped catalog table, a stopped and restarted
session.  Each must rebuild the memoized artifact, never serve it stale."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest

from google_analytics_dataframes_spark.io import load_table, table_path
from google_analytics_dataframes_spark.queries import streaming_batch as SB
from google_analytics_dataframes_spark.sources import bucketed as B
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parquet_rows(d: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def _ids(t, mod, res=0):
    return [i for i in t.column("doc_id").to_pylist() if i % mod == res]


def _change_rows(t) -> int:
    ids = t.column("doc_id").to_pylist()
    edits = [i for i in ids if i % 9 == 0 and i % 13 != 0]
    wave1 = len(_ids(t, 13)) + len(edits)
    wave2 = len(_ids(t, 17)) + len([i for i in edits if i % 2 == 0])
    return wave1 + wave2


#: (source table, artifact -> its row count, source table -> expected rows)
REGEN_CASES = {
    "load_table": (
        "events",
        lambda spark, sf: load_table(spark, sf, "events").count(),
        lambda t: t.num_rows,
    ),
    "ivf_index_tables": (
        "embeddings",
        lambda spark, sf: spark.table(B.ivf_index_tables(spark, sf)[1]).count(),
        lambda t: t.num_rows,
    ),
    "stage_stream_dir": (
        "events",
        lambda spark, sf: _parquet_rows(SB._stage_stream_dir(spark, sf, True)),
        lambda t: t.num_rows,
    ),
    "stage_doc_stream": (
        "documents",
        lambda spark, sf: _parquet_rows(SB._stage_doc_stream(spark, sf)),
        lambda t: t.num_rows + len(_ids(t, 7)),
    ),
    "stage_change_stream": (
        "documents",
        lambda spark, sf: _parquet_rows(SB._stage_change_stream(spark, sf)),
        _change_rows,
    ),
}


@pytest.mark.parametrize("case", sorted(REGEN_CASES))
def test_memo_follows_table_regenerated_in_place(spark, tmp_path, case):
    """Rewrite the source table with half its rows under the same path:
    the next call must rebuild from the new table.  st15/st20 stage
    documents, so their staging must follow the documents fingerprint."""
    table, rows, want = REGEN_CASES[case]
    # a basename of its own: staging dirs and index table names carry it
    sf = str(tmp_path / f"regen_{case}")
    os.makedirs(sf)
    path = table_path(sf, table)
    shutil.copyfile(table_path(SF_DIR, table), path)
    full = pq.read_table(path)
    assert rows(spark, sf) == want(full)

    half = full.slice(0, full.num_rows // 2)
    pq.write_table(half, path)
    assert want(half) < want(full)
    assert rows(spark, sf) == want(half), f"{case} served the old {table}"


def test_memo_rebuilds_dropped_gram_index(spark):
    """A memoized catalog table that was dropped is rebuilt, not returned
    by name."""
    name = B.gram_index_table(spark, SF_DIR)
    spark.sql(f"DROP TABLE {name}")
    assert B.gram_index_table(spark, SF_DIR) == name
    assert spark.catalog.tableExists(name)
    assert spark.table(name).count() > 0


def test_memo_survives_session_restart(tmp_path):
    """Stop the session and start another in the same process: a memoized
    read plan must not be served to the new session (its frame would be
    bound to the stopped one), and the gram index must be rebuilt.  Runs
    in a subprocess, since it stops its session."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        """
        import sys
        from google_analytics_dataframes_spark.io import load_table
        from google_analytics_dataframes_spark.session import get_spark
        from google_analytics_dataframes_spark.sources import bucketed as B

        sf = sys.argv[1]
        writes = []
        write_bucketed = B.write_bucketed

        def counted(df, table, *args, **kwargs):
            writes.append(table)
            return write_bucketed(df, table, *args, **kwargs)

        B.write_bucketed = counted
        s1 = get_spark(master="local[2]", shuffle_partitions=2)
        n = load_table(s1, sf, "documents").count()
        name = B.gram_index_table(s1, sf)
        assert B.gram_index_table(s1, sf) == name and len(writes) == 1
        s1.stop()

        s2 = get_spark(master="local[2]", shuffle_partitions=2)
        df = load_table(s2, sf, "documents")
        app = s2.sparkContext.applicationId
        assert df.sparkSession.sparkContext.applicationId == app
        assert df.count() == n
        assert B.gram_index_table(s2, sf) == name and len(writes) == 2
        assert s2.catalog.tableExists(name)
        print("MEMO-RESTART-OK")
        s2.stop()
        """
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, "-c", script, SF_DIR],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=REPO,
    )
    assert "MEMO-RESTART-OK" in r.stdout, (r.stdout[-2000:], r.stderr[-2000:])
