"""One committed snapshot per index (build.py's control plane): every
write op writes its new pieces to paths no snapshot names, then commits
by writing ONE new ``_manifests/snapshot-<n>.json``.

The crash-injection test runs each maintenance op against a Store with
object-store semantics (``write_atomic`` is one PUT, ``rename`` is
copy-then-delete) and crashes it at every one of its mutating Store calls
in turn. After every crash a fresh reader must open and serve exactly the
pre-op index or exactly the post-op index, and re-running an op that
crashed before its commit must reach the post-op index."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest

from visigoth_spark.analysis import AnalyzerConfig
from visigoth_spark.build import (
    append_index,
    build_fuzzydict,
    build_index,
    compact_index,
    delete_docs,
    load_snapshot,
    load_stats,
    merge_appends,
    update_docs,
)
from visigoth_spark.corpus import generate_corpus
from visigoth_spark.query import SearchIndex

AN = AnalyzerConfig(stopwords=frozenset(), stem=False)


def _df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["url", "text"]))


def _rows(n, seed, prefix):
    pdf = generate_corpus(n, seed=seed)
    return list(zip(prefix + pdf["url"], pdf["text"]))


SPECIAL = [("zz-del", "borrable unico"), ("zz-gone", "perdido unico"),
           ("zz-upd", "versionuno texto"), ("zz-fz", "murcielago vuela")]
APPEND = _rows(10, 3, "ap-") + [("zz-new", "novedad palabra")]
UPDATE = [("zz-upd", "versiondos texto")]

OPS = {
    "append": lambda spark, d: append_index(
        spark, _df(spark, APPEND), d, analyzer=AN, num_partitions=1),
    "delete": lambda spark, d: delete_docs(spark, d, urls=["zz-del"]),
    "update": lambda spark, d: update_docs(
        spark, d, _df(spark, UPDATE), analyzer=AN, num_partitions=1),
    "merge": lambda spark, d: merge_appends(spark, d, num_partitions=2),
    "compact": lambda spark, d: compact_index(spark, d, num_partitions=2),
    "fuzzydict": lambda spark, d: build_fuzzydict(spark, d, max_edits=2),
}


def _state(spark, out):
    """What a fresh reader serves: bm25 top-k, fuzzy expansion through
    the sidecar, the deleted / updated urls, the doc and batch counts."""
    idx = SearchIndex(spark, out, analyzer=AN)

    def run(q, engine):
        return [(r["url"], round(r["score"], 9))
                for r in idx.search(q, engine, k=10).collect()]

    return {
        "bm25": run("curso java", "bm25"),
        "fuzzy": run("murcielgo", "bm25_fuzzy") + run("novedat",
                                                       "bm25_fuzzy"),
        "sidecar": (idx._fuzzydict_d,
                    idx._fuzzy_sidecar_candidates("murcielgo"),
                    idx._fuzzy_sidecar_candidates("novedat"),
                    idx._fuzzy_sidecar_candidates("murcielgo", 2)),
        "deleted": run("borrable", "hits"),
        "updated": run("versionuno", "hits") + run("versiondos", "hits"),
        "n_docs": len(idx),
        "batches": len(idx._batches),
    }


def _manifest_files(out):
    """``_manifests/`` must hold the current snapshot and the tombstone
    file it names, nothing else."""
    snap = load_snapshot(out)
    want = {f"snapshot-{snap['id']}.json"}
    if snap["tombstones"]:
        want.add(os.path.basename(snap["tombstones"]))
    return set(os.listdir(os.path.join(out, "_manifests"))) == want


@pytest.fixture(scope="module")
def template(spark, tmp_path_factory):
    """Base build + two appends + a d=1 fuzzydict + one tombstone: every
    op under test has work to do, and each changes what readers see."""
    out = str(tmp_path_factory.mktemp("snap") / "tpl")
    build_index(spark, _df(spark, _rows(48, 1, "") + SPECIAL), out,
                analyzer=AN, num_partitions=2)
    for i in (0, 1):
        append_index(spark, _df(spark, _rows(8, 10 + i, f"a{i}-")), out,
                     analyzer=AN, num_partitions=1)
    build_fuzzydict(spark, out)
    delete_docs(spark, out, urls=["zz-gone"])
    return out, _state(spark, out)


@pytest.mark.parametrize("op", sorted(OPS))
def test_every_crash_point_leaves_pre_or_post(spark, template, tmp_path,
                                              crash_store, op):
    tpl, pre = template
    clean = shutil.copytree(tpl, str(tmp_path / "clean"))
    with crash_store() as st:  # no crash: counts the mutating calls
        OPS[op](spark, clean)
    n_calls = st["calls"]
    assert st["renames"] == 0  # no commit needs Store.rename
    post = _state(spark, clean)
    assert post != pre
    assert _manifest_files(clean)
    for k in range(1, n_calls + 1):
        d = shutil.copytree(tpl, str(tmp_path / f"k{k}"))
        with crash_store(k=k) as st:
            OPS[op](spark, d)
        assert st["fired"], (op, k)
        got = _state(spark, d)
        assert got in (pre, post), (op, k, got)
        if got == pre:  # crashed before the commit: re-run completes it
            OPS[op](spark, d)
            assert _state(spark, d) == post, (op, k)
        shutil.rmtree(d)


def test_unfinished_build_is_not_openable_and_resumes(spark, tmp_path,
                                                      crash_store):
    """A build crashed before its final commit leaves progress snapshots
    only: no reader opens it, and ``resume=True`` skips the batches they
    name."""
    rows = _rows(60, 5, "")
    out = str(tmp_path / "idx")
    # crash at the third progress commit: batches 0 and 1 committed
    with crash_store(match="snapshot-2") as st:
        build_index(spark, _df(spark, rows), out, analyzer=AN,
                    num_partitions=3, n_batches=3)
    assert st["fired"]
    assert [b["batch"] for b in load_snapshot(out)["batches"]] == [0, 1]
    with pytest.raises(FileNotFoundError):
        load_stats(out)
    with pytest.raises(FileNotFoundError):
        SearchIndex(spark, out, analyzer=AN)
    b0 = os.path.join(out, "data", "batch=0")
    mtime = os.path.getmtime(b0)
    build_index(spark, _df(spark, rows), out, analyzer=AN,
                num_partitions=3, n_batches=3, resume=True)
    assert os.path.getmtime(b0) == mtime  # skipped, not rewritten
    assert load_stats(out)["n_docs"] == 60
    assert _manifest_files(out)
