"""Resumable import: incremental anti-join, lineage, idempotent re-run —
the reference's incremental-load tests re-expressed
(RDFProceduresTest.java:2560-2746 incremental/step{1,2,3})."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from neosemantics_spark.checkpoint import ImportCheckpoint


def _src(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "repo": "r",
                    "path": p,
                    "commit": c,
                    "lang": "N-Triples",
                    "content": content,
                }
                for p, c, content in rows
            ]
        )
    )


NT1 = '<http://e/a> <http://e/p> "1" .\n'
NT2 = '<http://e/b> <http://e/p> "2" .\n<http://e/b> <http://e/q> "3" .\n'
NT3 = '<http://e/c> <http://e/p> "4" .\n'


def test_incremental_runs(spark, tmp_path):
    cp = ImportCheckpoint(spark, str(tmp_path / "ckpt"))
    # step 1: two files
    r1 = cp.run(_src(spark, [("f1.nt", "c1", NT1), ("f2.nt", "c1", NT2)]), run_id="r1")
    assert r1.new_files == 2 and r1.skipped_files == 0
    assert r1.triples.count() == 3
    # step 2: same files again + one new → only the new one processed
    r2 = cp.run(
        _src(spark, [("f1.nt", "c1", NT1), ("f2.nt", "c1", NT2), ("f3.nt", "c1", NT3)]),
        run_id="r2",
    )
    assert r2.new_files == 1 and r2.skipped_files == 2
    assert r2.triples.count() == 1
    # step 3: nothing new → no-op
    r3 = cp.run(_src(spark, [("f3.nt", "c1", NT3)]), run_id="r3")
    assert r3.new_files == 0 and r3.triples is None
    # a changed commit/content is a new unit of work
    r4 = cp.run(_src(spark, [("f1.nt", "c2", NT1 + NT3)]), run_id="r4")
    assert r4.new_files == 1
    # accumulated state
    assert cp.all_triples().filter(F.col("parse_error").isNull()).count() == 6
    lineage = cp.lineage().toPandas()
    assert sorted(lineage.run_id.unique()) == ["r1", "r2", "r4"]
    assert lineage.n_triples.sum() == 6
    metrics = cp.metrics().toPandas()
    assert set(metrics.run_id) == {"r1", "r2", "r3", "r4"}
    assert int(metrics[metrics.run_id == "r2"].files_skipped.iloc[0]) == 2


def test_rerun_same_run_id_idempotent(spark, tmp_path):
    """Crash-replay: re-running the same delta with the same run_id
    overwrites its own output directory instead of duplicating triples."""
    cp = ImportCheckpoint(spark, str(tmp_path / "ckpt2"))
    cp.run(_src(spark, [("f1.nt", "c1", NT1)]), run_id="rX")
    # simulate replay of the same source: the file is recorded, so no-op
    again = cp.run(_src(spark, [("f1.nt", "c1", NT1)]), run_id="rX")
    assert again.new_files == 0
    assert cp.all_triples().count() == 1


def test_crash_between_write_and_commit_no_duplicates(spark, tmp_path):
    """Crash AFTER the triples write but BEFORE the processed/lineage
    commit: the retry derives the same run_id from the same todo set and
    overwrites the orphaned run directory — all_triples() never
    double-counts (ADVICE r1: timestamp run_ids duplicated here)."""
    import os
    import shutil

    root = str(tmp_path / "ckpt3")
    cp = ImportCheckpoint(spark, root)
    src = _src(spark, [("f1.nt", "c1", NT1), ("f2.nt", "c1", NT2)])
    r1 = cp.run(src)  # auto (derived) run_id
    assert r1.new_files == 2 and cp.all_triples().count() == 3
    # simulate the crash: roll back the commit, keep the triples dir
    shutil.rmtree(cp.processed_path)
    shutil.rmtree(cp.lineage_path)
    assert os.path.isdir(os.path.join(cp.triples_root, f"run_id={r1.run_id}"))
    r2 = cp.run(src)  # retry: same todo → same derived run_id → overwrite
    assert r2.run_id == r1.run_id
    assert cp.all_triples().count() == 3  # no duplicates
    assert cp.lineage().toPandas().n_triples.sum() == 3


def test_orphan_run_dir_pruned(spark, tmp_path):
    """A crashed run whose todo set then CHANGED leaves an orphan run
    directory under a different run_id; the next run prunes it so
    all_triples() reflects only committed runs."""
    cp = ImportCheckpoint(spark, str(tmp_path / "ckpt4"))
    cp.run(_src(spark, [("f1.nt", "c1", NT1)]), run_id="good")
    # fabricate an orphan: triples written under a run_id that never got a
    # processed_files commit
    import os

    orphan = os.path.join(cp.triples_root, "run_id=orphan")
    cp.all_triples().filter(F.col("parse_error").isNull()).drop("run_id").write.parquet(orphan)
    assert cp.all_triples().count() == 2  # orphan visible pre-prune
    r = cp.run(_src(spark, [("f2.nt", "c1", NT2)]), run_id="good2")
    assert r.new_files == 1
    assert sorted(set(cp.all_triples().toPandas().run_id)) == ["good", "good2"]
    assert cp.all_triples().count() == 3


def test_touched_nodes_delta_validation(spark, tmp_path):
    """Incremental run → touched_nodes(run) = subjects + resource objects
    of that run only → feeds validate_delta (the per-batch validation an
    incremental 100 TB ingest runs on every delta)."""
    from neosemantics_spark.validation.shacl import touched_nodes

    cp = ImportCheckpoint(spark, str(tmp_path / "ckpt5"))
    nt_rel = '<http://e/a> <http://e/knows> <http://e/z> .\n'
    cp.run(_src(spark, [("f1.nt", "c1", NT1)]))
    r2 = cp.run(_src(spark, [("f1.nt", "c1", NT1), ("f2.nt", "c1", nt_rel)]))
    got = sorted(r.uri for r in touched_nodes(cp, r2.run_id).collect())
    # run 2 processed only f2: subject a + resource object z, NOT b from run 1
    assert got == ["http://e/a", "http://e/z"], got


def test_config_change_reprocesses_and_is_recorded(spark, tmp_path):
    """The (cfg, mapping) fingerprint is part of the processed-file key:
    a re-run with a changed config reprocesses the same files under the
    new semantics, and lineage/metrics record which config produced each
    run (VERDICT r2 item 8)."""
    from neosemantics_spark.config import KEEP, SHORTEN, GraphConfig

    cp = ImportCheckpoint(spark, str(tmp_path / "ckpt6"))
    src = _src(spark, [("f1.nt", "c1", NT1)])
    r1 = cp.run(src, cfg=GraphConfig(handle_vocab_uris=KEEP))
    assert r1.new_files == 1
    # same config → nothing to do
    r2 = cp.run(src, cfg=GraphConfig(handle_vocab_uris=KEEP))
    assert r2.new_files == 0
    # changed config → same file is new again
    r3 = cp.run(src, cfg=GraphConfig(handle_vocab_uris=SHORTEN))
    assert r3.new_files == 1 and r3.run_id != r1.run_id
    lin = cp.lineage().toPandas()
    assert lin.config_hash.nunique() == 2
    met = cp.metrics().toPandas()
    assert set(met[met.files_processed > 0].config_hash) == set(lin.config_hash)


def test_legacy_checkpoint_layout_rejected(spark, tmp_path):
    """A v1/v2 checkpoint directory (missing config_hash / run_id columns)
    fails fast with a clear incompatibility error, not a partition or
    anti-join failure (ADVICE r2)."""
    import pytest as _pytest

    root = tmp_path / "ckpt7"
    cp = ImportCheckpoint(spark, str(root))
    # fabricate a legacy flat processed_files table (no run_id partition,
    # no config_hash column)
    legacy = spark.createDataFrame(
        pd.DataFrame(
            [{"repo": "r", "path": "f1.nt", "commit": "c1", "content_sha": "x" * 64}]
        )
    )
    legacy.write.parquet(cp.processed_path)
    with _pytest.raises(ValueError, match="Incompatible checkpoint layout"):
        cp.run(_src(spark, [("f1.nt", "c1", NT1)]))


def test_malformed_file_is_quarantined_and_committed(spark, tmp_path):
    """A malformed file is quarantined as one parse_error row, not fatal:
    the run commits both files and records the error."""
    cp = ImportCheckpoint(spark, str(tmp_path / "ckpt8"))
    src = _src(spark, [("f1.nt", "c1", NT1), ("bad.nt", "c1", "<http://e/x> <http://e/p> .\n")])
    r = cp.run(src)
    assert r.new_files == 2
    met = cp.metrics().toPandas()
    assert int(met.parse_errors.iloc[0]) == 1 and int(met.triples.iloc[0]) == 1
    lin = cp.lineage().toPandas().set_index("path")
    assert int(lin.loc["bad.nt", "had_error"]) == 1 and int(lin.loc["f1.nt", "n_triples"]) == 1
    assert cp.run(src).new_files == 0


def test_duplicate_source_row_counted_once_per_listing(spark, tmp_path):
    """A file listed twice in one source has two ledger rows; a rerun
    still skips exactly the two listed rows, not their product."""
    cp = ImportCheckpoint(spark, str(tmp_path / "ckpt9"))
    rows = [("f1.nt", "c1", NT1), ("f1.nt", "c1", NT1), ("f2.nt", "c1", NT2)]
    assert cp.run(_src(spark, rows)).new_files == 3
    r = cp.run(_src(spark, rows + [("f3.nt", "c1", NT3)]))
    assert (r.new_files, r.skipped_files) == (1, 3)
    met = cp.metrics().toPandas().set_index("run_id")
    assert int(met.loc[r.run_id, "files_skipped"]) == 3


def test_run_ids_follow_commit_record_not_mtime(spark, tmp_path):
    """run_ids() lists runs in commit order even when the partition
    mtimes say otherwise (a copied or restored root)."""
    import os

    cp = ImportCheckpoint(spark, str(tmp_path / "ckpt10"))
    cp.run(_src(spark, [("f2.nt", "c1", NT2)]), run_id="zz")
    cp.run(_src(spark, [("f1.nt", "c1", NT1)]), run_id="aa")
    for rid, t in (("zz", 2_000_000_000), ("aa", 1_000_000_000)):
        os.utime(os.path.join(cp.processed_path, f"run_id={rid}"), (t, t))
    assert cp.run_ids() == ["zz", "aa"]


@pytest.mark.parametrize(
    "lang,content",
    [("N-Triples", ""), ("Turtle", "# comments only\n@prefix ex: <http://example.org/> .\n")],
    ids=["empty", "comment-only"],
)
def test_file_with_no_triples_commits_empty_run(spark, tmp_path, lang, content):
    """A new file that parses to zero triples and zero errors writes an
    empty triples directory; the run still commits: one metrics row with
    zero counts, the file in the processed ledger, skipped on rerun."""
    cp = ImportCheckpoint(spark, str(tmp_path / "ckpt_empty"))
    row = {"repo": "r", "path": "empty", "commit": "c1", "lang": lang, "content": content}
    src = spark.createDataFrame(pd.DataFrame([row]))
    r = cp.run(src)
    assert r.new_files == 1 and r.triples.count() == 0
    met = cp.metrics().toPandas()
    assert len(met) == 1
    assert int(met.triples.iloc[0]) == 0 and int(met.parse_errors.iloc[0]) == 0
    assert cp.run_ids() == [r.run_id] and cp.processed().count() == 1
    assert cp.run(src).new_files == 0
