"""Per-partition lineage + exact resume through jobs/build_kg.run_job."""

import shutil
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[2] / "jobs"))

from build_kg import run_job  # noqa: E402

from deduce_spark.spark import lineage as lin  # noqa: E402
from deduce_spark.spark.icetable import IceTable  # noqa: E402

N_PARTS = 8


@pytest.fixture(scope="module")
def first_run(spark, engine, pages_path, tmp_path_factory):
    """(output root, summary) of one full build, shared by the tests that
    resume from it; a test that changes the output works on a copy."""
    kg_out = tmp_path_factory.mktemp("kg_out")
    s = run_job(spark, pages_path, str(kg_out), n_parts=N_PARTS, engine=engine)
    return kg_out, s


def test_first_run_processes_all_parts(spark, first_run):
    kg_out, s = first_run
    assert s["parts_processed"] == N_PARTS and s["parts_skipped"] == 0
    mt = IceTable(kg_out / "mentions")
    assert mt.exists()
    # lineage rows_out agree with the committed manifest, part by part
    log = lin.LineageLog(kg_out / "_lineage")
    recs = {r["part_id"]: r for r in log.records() if r["kind"] == "part"}
    stats = {int(e["partition"]["part_id"]): e["rows"]
             for e in mt.manifest()["entries"]}
    assert len(recs) == N_PARTS
    assert {p: r["rows_out"] for p, r in recs.items()} == stats
    assert sum(r["rows_in"] for r in recs.values()) == 80  # every page fingerprinted
    # KG outputs committed with expected predicate vocabulary
    preds = {r.pred for r in IceTable(kg_out / "edges").read(spark)
             .select("pred").distinct().collect()}
    assert preds == {"mentions", "hasType", "hasSurfaceForm", "publishedAt",
                     "coOccursWith"}
    assert IceTable(kg_out / "nodes").read(spark).count() == s["nodes_rows"]


def test_second_run_skips_everything(spark, engine, pages_path, first_run):
    kg_out, _ = first_run
    before = IceTable(kg_out / "mentions").current_version()
    s = run_job(spark, pages_path, str(kg_out), n_parts=N_PARTS, engine=engine)
    assert s["parts_processed"] == 0 and s["parts_skipped"] == N_PARTS
    # no new mentions snapshot was committed
    assert IceTable(kg_out / "mentions").current_version() == before


def test_changed_input_recomputes_only_touched_parts(
    spark, engine, pages_path, first_run, tmp_path
):
    kg_out = tmp_path / "kg_out"
    shutil.copytree(first_run[0], kg_out)
    # drop ONE page -> exactly one part's input_hash changes
    pages = spark.read.parquet(pages_path)
    victim = pages.select("url").orderBy("url").limit(1).collect()[0].url
    changed_dir = str(tmp_path / "pages_changed")
    pages.filter(F.col("url") != victim).write.parquet(changed_dir)
    victim_part = (
        lin.with_part_id(pages.filter(F.col("url") == victim), N_PARTS)
        .select("part_id").collect()[0].part_id
    )

    baseline = {
        int(e["partition"]["part_id"]): e["rows"]
        for e in IceTable(kg_out / "mentions").manifest()["entries"]
    }
    s = run_job(spark, changed_dir, str(kg_out), n_parts=N_PARTS, engine=engine)
    assert s["parts_processed"] == 1 and s["parts_skipped"] == N_PARTS - 1

    after = {
        int(e["partition"]["part_id"]): e["rows"]
        for e in IceTable(kg_out / "mentions").manifest()["entries"]
    }
    # untouched parts inherited byte-for-byte; victim part swapped in place
    for pid, rows in baseline.items():
        if pid != victim_part:
            assert after[pid] == rows
    assert after[victim_part] <= baseline[victim_part]
    # mentions table contents now exactly match a from-scratch annotate of
    # the changed input (resume == recompute, the exact-resume guarantee) —
    # compared VALUE-FOR-VALUE, not just by count
    def rows(root):
        return sorted(
            (r.url, r.text, r.start_char, r.end_char, r.tag, r.priority)
            for r in IceTable(root / "mentions").read(spark).collect()
        )

    fresh_out = tmp_path / "kg_fresh"
    s2 = run_job(spark, changed_dir, str(fresh_out), n_parts=N_PARTS,
                 engine=engine, resume=False)
    assert rows(kg_out) == rows(fresh_out)
    assert s2["parts_processed"] == N_PARTS


def test_n_parts_change_forces_full_rebuild(spark, engine, pages_path, tmp_path):
    # relabelling parts invalidates the whole checkpoint: stale partitions
    # from the old layout must NOT survive in the manifest
    out = tmp_path / "kg_np"
    run_job(spark, pages_path, str(out), n_parts=4, engine=engine)
    rows_4 = IceTable(out / "mentions").manifest()["summary"]["total_rows"]
    s = run_job(spark, pages_path, str(out), n_parts=2, engine=engine)
    assert s["parts_processed"] == 2 and s["parts_skipped"] == 0
    man = IceTable(out / "mentions").manifest()
    parts = {int(e["partition"]["part_id"]) for e in man["entries"]}
    assert parts == {0, 1}
    assert man["summary"]["total_rows"] == rows_4


def test_part_manifest_is_layout_independent(spark, pages_path, tmp_path):
    pages = lin.with_part_id(spark.read.parquet(pages_path), N_PARTS)
    a = {r.part_id: (r.input_hash, r.rows_in)
         for r in lin.part_manifest(pages).collect()}
    relaid = str(tmp_path / "relaid")
    spark.read.parquet(pages_path).repartition(7).write.parquet(relaid)
    b = {r.part_id: (r.input_hash, r.rows_in)
         for r in lin.part_manifest(
             lin.with_part_id(spark.read.parquet(relaid), N_PARTS)).collect()}
    assert a == b


def test_person_col_through_job(spark, engine, tmp_path):
    # A8 through the production entry: per-page known person drives
    # patient-tagged mentions end to end
    import datetime as dt

    ts = dt.datetime(2024, 1, 1)
    rows = [
        (f"https://d0/p{i}", ts,
         b"", "betreft: Jan Jansen, de patient.", "nl",
         (["Jan"], None, "Jansen") if i % 2 == 0 else None)
        for i in range(8)
    ]
    pages = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, person struct<first_names:array<string>, "
        "initials:string, surname:string>",
    )
    src = tmp_path / "pages"
    pages.write.parquet(str(src))
    out = tmp_path / "kg"
    s = run_job(spark, str(src), str(out), n_parts=2, engine=engine,
                from_html=False, person_col="person")
    assert s["mentions_rows_written"] > 0
    mentions = IceTable(out / "mentions").read(spark)
    tags = {r["tag"] for r in mentions.select("tag").distinct().collect()}
    assert "patient" in tags
    # pages without the person struct cannot produce patient tags
    n_patient_pages = (
        mentions.filter(F.col("tag") == "patient").select("url").distinct().count()
    )
    assert n_patient_pages == 4


class TestIncrementalJob:
    def test_incremental_append_flow(self, spark, engine, tmp_path):
        from pyspark.sql import functions as F

        from deduce_spark.fixtures import write_pages_parquet

        out = tmp_path / "kg_inc"
        all_pages_path = write_pages_parquet(tmp_path / "pages", n_pages=60)
        pages = spark.read.parquet(str(all_pages_path))
        half1 = str(tmp_path / "half1")
        both = str(tmp_path / "both")
        urls = sorted(r["url"] for r in pages.select("url").collect())
        cut = set(urls[:30])
        pages.filter(F.col("url").isin(list(cut))).write.parquet(half1)
        pages.write.parquet(both)

        # bootstrap: --incremental with no surface_map falls back to full
        s1 = run_job(spark, half1, str(out), n_parts=4, engine=engine,
                     incremental=True)
        assert "incremental" not in s1  # full build ran
        sm = IceTable(out / "surface_map")
        assert sm.exists()
        base_ent = {
            (r["surface"], r["type"]): r["entity_id"]
            for r in sm.read(spark).collect()
        }
        edges_v1 = IceTable(out / "edges").read(spark).count()

        # second run over the full set: only the new parts process, and
        # stage B goes through the incremental path
        s2 = run_job(spark, both, str(out), n_parts=4, engine=engine,
                     incremental=True)
        assert s2.get("incremental") is True
        assert s2["parts_processed"] >= 1
        # existing surfaces kept their entity ids
        cur = {
            (r["surface"], r["type"]): r["entity_id"]
            for r in sm.read(spark).collect()
        }
        for k, e in base_ent.items():
            assert cur[k] == e
        assert len(cur) >= len(base_ent)
        # edges appended, not rewritten
        assert IceTable(out / "edges").read(spark).count() > edges_v1
        # nodes table consistent with the surface map
        nodes = IceTable(out / "nodes").read(spark)
        assert nodes.count() == sm.read(spark).select("entity_id", "type").distinct().count()

    def test_incremental_noop_when_nothing_new(self, spark, engine, tmp_path):
        from deduce_spark.fixtures import write_pages_parquet

        out = tmp_path / "kg_noop"
        p = write_pages_parquet(tmp_path / "pages_noop", n_pages=20)
        run_job(spark, str(p), str(out), n_parts=2, engine=engine,
                incremental=True)
        edges_v = IceTable(out / "edges").current_version()
        s = run_job(spark, str(p), str(out), n_parts=2, engine=engine,
                    incremental=True)
        assert s.get("incremental") is True and s["parts_processed"] == 0
        assert IceTable(out / "edges").current_version() == edges_v


def test_maintenance_compacts_and_expires(spark, tmp_path):
    sys.path.insert(0, str(Path(__file__).resolve().parents[2] / "jobs"))
    from maintain_kg import run_maintenance

    root = tmp_path / "kg_maint"
    t = IceTable(root / "nodes")
    df = spark.range(0, 300).select(
        (F.col("id") % 3).cast("string").alias("p"), F.col("id").alias("k")
    )
    for _ in range(3):
        t.write(df, partition_by=("p",), mode="overwrite-partitions")
    rep = run_maintenance(
        spark, str(root), ["nodes"], compact=True, max_files=1, expire_keep=1
    )
    c = rep["nodes"]["compact"]
    assert c["files_after"] <= 3 < c["files_before"]
    assert rep["nodes"]["expire"]["freed_bytes"] > 0
    assert IceTable(root / "nodes").read(spark).count() == 300
    # missing table is reported, not an error
    rep2 = run_maintenance(spark, str(root), ["edges"], compact=True)
    assert rep2["edges"] == {"skipped": "missing"}


class TestStreamIncrementalFold:
    """--kg-only --incremental over a stream-layout mentions table:
    full build marks present batches folded; later runs fold only new
    batch_ids; an unchanged table is a no-op."""

    def _write_batch(self, spark, table, batch_id, texts):
        import datetime as dt

        ts = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
        rows = [(f"https://x.nl/{batch_id}_{i}", ts, t, "persoon",
                 int(batch_id), i % 2)
                for i, t in enumerate(texts)]
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, text string, tag string, "
                  "batch_id int, part_id int"
        )
        table.write(df, partition_by=("batch_id", "part_id"), mode="append")

    def test_fold_only_new_batches(self, spark, engine, tmp_path):
        out = tmp_path / "kg_stream"
        mt = IceTable(out / "mentions")
        self._write_batch(spark, mt, 0, ["Jan Jansen", "Piet Pietersen"])

        s0 = run_job(spark, None, str(out), engine=engine, kg_only=True,
                     incremental=True)
        # bootstrap went through the FULL path and marked batch 0 folded
        assert "incremental" not in s0 and s0["batches_folded"] == [0]
        ent0 = {
            (r["surface"], r["type"]): r["entity_id"]
            for r in IceTable(out / "surface_map").read(spark).collect()
        }

        # same table again -> no-op, no edges snapshot
        ev = IceTable(out / "edges").current_version()
        s1 = run_job(spark, None, str(out), engine=engine, kg_only=True,
                     incremental=True)
        assert s1["incremental"] is True and s1["batches_folded"] == []
        assert IceTable(out / "edges").current_version() == ev

        # new stream batch arrives -> only batch 1 folds, entities stable
        self._write_batch(spark, mt, 1, ["Jan Jansen", "Kees de Vries"])
        s2 = run_job(spark, None, str(out), engine=engine, kg_only=True,
                     incremental=True)
        assert s2["incremental"] is True and s2["batches_folded"] == [1]
        cur = {
            (r["surface"], r["type"]): (r["entity_id"], r["n_mentions"])
            for r in IceTable(out / "surface_map").read(spark).collect()
        }
        jj = ("jan jansen", "PERSOON")
        assert cur[jj][0] == ent0[jj]
        assert cur[jj][1] == 2                       # count merged
        assert ("kees de vries", "PERSOON") in cur   # novel surface added
        assert IceTable(out / "edges").current_version() == ev + 1  # append


class TestMergeCompactionJob:
    """--merge-compact: converge incremental entity splits, remap the
    edges table, persist the old->new id map (VERDICT r2 next-round #8)."""

    X = "Sint Anna Hospitaal"          # est-jaccard: X~Z .81, Z~Y .77,
    Z = "Sint Anna Hospitaal Delft"    # X~Y .64 -> Y splits off until Z
    Y = "Sint Anna Hospitaal Delft West"  # bridges them (batch rules)

    def _split_tables(self, spark, root):
        from deduce_spark.spark.kg import canonicalize, incremental_canonicalize

        def m(rows):
            return spark.createDataFrame(rows, "text string, tag string")

        sm0, _ = canonicalize(m([(self.X, "ziekenhuis")]))
        sm1, _ = incremental_canonicalize(m([(self.Y, "ziekenhuis")]), sm0)
        sm2, _ = incremental_canonicalize(m([(self.Z, "ziekenhuis")]), sm1)
        IceTable(root / "surface_map").write(sm2, mode="overwrite")
        ents = sorted({r["entity_id"] for r in sm2.collect()})
        assert len(ents) == 2  # the split this job must converge
        e1, e2 = str(ents[0]), str(ents[1])
        edges = spark.createDataFrame(
            [
                ("http://a/", "mentions", e1, "http://a/", "t0"),
                ("http://a/", "mentions", e2, "http://a/", "t0"),
                (e1, "hasType", "INSTELLING", "http://a/", "t0"),
                (e2, "hasType", "INSTELLING", "http://a/", "t0"),
                (e1, "coOccursWith", e2, "http://a/", "t0"),
                ("http://a/", "publishedAt", "t0", "http://a/", "t0"),
            ],
            "subj string, pred string, obj string, url string, warc_ts string",
        )
        IceTable(root / "edges").write(
            edges, partition_by=("pred",), mode="overwrite"
        )
        return ents

    def test_merge_compaction_converges_and_remaps(self, spark, engine, tmp_path):
        sys.path.insert(0, str(Path(__file__).resolve().parents[2] / "jobs"))
        from maintain_kg import run_merge_compaction

        root = tmp_path / "kg_mc"
        old_ents = self._split_tables(spark, root)
        rep = run_merge_compaction(spark, str(root), engine=engine)
        assert rep["merged_entities"] in (1, 2)

        new_sm = IceTable(root / "surface_map").read(spark)
        assert new_sm.select("entity_id").distinct().count() == 1
        new_id = str(new_sm.select("entity_id").first()[0])

        nodes = IceTable(root / "nodes").read(spark)
        nrows = nodes.collect()
        assert len(nrows) == 1 and nrows[0]["n_mentions"] == 3
        assert "link_score" in nodes.columns  # link scoring recomputed

        edges = {tuple(r) for r in IceTable(root / "edges").read(spark).collect()}
        assert ("http://a/", "mentions", new_id, "http://a/", "t0") in edges
        assert not any(r[1] == "coOccursWith" for r in edges)  # self-loop gone
        assert ("http://a/", "publishedAt", "t0", "http://a/", "t0") in edges
        assert len(edges) == 3

        idm = IceTable(root / "entity_id_map").read(spark)
        mapping = {r["old_entity_id"]: r["new_entity_id"] for r in idm.collect()}
        assert all(str(v) == new_id for v in mapping.values())
        assert set(mapping) <= set(old_ents)

        # converged state: second run is a snapshot-free no-op
        v_sm = IceTable(root / "surface_map").current_version()
        rep2 = run_merge_compaction(spark, str(root), engine=engine)
        assert rep2.get("noop") is True
        assert IceTable(root / "surface_map").current_version() == v_sm

    def test_merge_compaction_skips_missing_table(self, spark, tmp_path):
        sys.path.insert(0, str(Path(__file__).resolve().parents[2] / "jobs"))
        from maintain_kg import run_merge_compaction

        rep = run_merge_compaction(spark, str(tmp_path / "absent"))
        assert rep == {"skipped": "no surface_map table"}


class TestCommitWaves:
    """Stage A split into separately committed waves (--commit-waves): a
    driver kill between waves must resume from the last committed wave,
    and the waved build must be row-identical to the single-commit one."""

    def test_kill_between_waves_resumes_from_checkpoint(
        self, spark, engine, pages_path, tmp_path
    ):
        import build_kg as job_mod
        from deduce_spark.spark.stages import AnnotatePipeline

        out = tmp_path / "kg_waved"
        calls = {"n": 0}
        real = AnnotatePipeline.annotate_pages

        def dying(self, *a, **kw):
            calls["n"] += 1
            if calls["n"] == 3:  # waves 1-2 commit, "driver dies" in wave 3
                raise RuntimeError("simulated driver death mid-stage-A")
            return real(self, *a, **kw)

        AnnotatePipeline.annotate_pages = dying
        try:
            with pytest.raises(RuntimeError, match="simulated driver death"):
                run_job(
                    spark, pages_path, str(out), n_parts=N_PARTS,
                    engine=engine, commit_waves=4,
                )
        finally:
            AnnotatePipeline.annotate_pages = real
        # two waves of 2 parts each committed with ok lineage rows
        log = lin.LineageLog(out / "_lineage")
        committed = set(log.completed())
        assert len(committed) == 4
        # restart with resume: exactly the committed parts are skipped
        s = run_job(
            spark, pages_path, str(out), n_parts=N_PARTS,
            engine=engine, commit_waves=4,
        )
        assert s["parts_skipped"] == 4
        assert s["parts_processed"] == N_PARTS - 4
        # and the final table is row-identical to an uninterrupted
        # single-commit build
        ref_out = tmp_path / "kg_ref"
        run_job(spark, pages_path, str(ref_out), n_parts=N_PARTS,
                engine=engine, commit_waves=1)
        cols = ["url", "start_char", "end_char", "tag", "text"]

        def table_hash(p):
            df = IceTable(p / "mentions").read(spark)
            return df.select(
                F.bit_xor(F.xxhash64(*cols)).alias("h"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]

        a, b = table_hash(out), table_hash(ref_out)
        assert (a["h"], a["n"]) == (b["h"], b["n"])


def test_anchor_evidence_through_job(spark, engine, tmp_path):
    # round-6: build_kg consumes extract_anchors(pages) as canonical-form
    # evidence.  3 pages mention "Jan van der Bakker", 1 page the variant
    # "Jan van der Bakkers" (LSH-mergeable); every page carries 3 anchor
    # tags naming the variant.  The anchors live in an HTML comment so
    # extract_text drops them (they must not add MENTIONS — the test
    # isolates the anchor-vote path, which reads raw html) while the
    # regex-based extract_anchors still sees them.  With evidence the
    # merged entity's canonical form is the anchor-voted variant; with
    # --no-anchor-evidence it is the mention-count argmax.
    import datetime as dt

    ts = dt.datetime(2024, 1, 1)
    a_sent = ("<p>De redactie sprak met Jan van der Bakker, 40 jaar oud, "
              "uit Delft.</p>")
    b_sent = ("<p>De redactie sprak met Jan van der Bakkers, 41 jaar oud, "
              "uit Delft.</p>")
    anchor = ('<!-- <a href="https://t.nl/p3">Jan van der Bakkers</a> -->'
              * 3)
    rows = []
    for i in range(4):
        body = (b_sent if i == 3 else a_sent) + anchor
        rows.append((f"https://t.nl/p{i}", ts,
                     f"<html><body>{body}</body></html>".encode(), "nl"))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, lang string"
    )
    src = tmp_path / "pages"
    pages.write.parquet(str(src))

    def canon_forms(out, **kw):
        s = run_job(spark, str(src), str(out), n_parts=2, engine=engine,
                    **kw)
        assert s["mentions_rows_written"] > 0
        nodes = IceTable(out / "nodes").read(spark)
        return {
            r["canonical_form"]
            for r in nodes.filter(F.col("type") == "PERSOON").collect()
        }

    with_anchor = canon_forms(tmp_path / "kg_a")
    without = canon_forms(tmp_path / "kg_b", anchor_evidence=False)
    assert "jan van der bakker" in without
    assert "jan van der bakkers" in with_anchor
    assert with_anchor != without


def test_incremental_fold_keeps_anchor_voted_canonicals(
    spark, engine, tmp_path
):
    # review fix: an --incremental fold (or compaction) used to rebuild
    # nodes WITHOUT anchor weights, silently reverting every anchor-voted
    # canonical form.  The full build now persists the weight table and
    # the fold reuses it.
    import datetime as dt

    ts = dt.datetime(2024, 1, 1)
    a_sent = ("<p>De redactie sprak met Jan van der Bakker, 40 jaar oud, "
              "uit Delft.</p>")
    b_sent = ("<p>De redactie sprak met Jan van der Bakkers, 41 jaar oud, "
              "uit Delft.</p>")
    anchor = ('<!-- <a href="https://t.nl/p3">Jan van der Bakkers</a> -->'
              * 3)
    rows = []
    for i in range(4):
        body = (b_sent if i == 3 else a_sent) + anchor
        rows.append((f"https://t.nl/p{i}", ts,
                     f"<html><body>{body}</body></html>".encode(), "nl"))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, lang string"
    )
    src = tmp_path / "pages"
    pages.write.parquet(str(src))
    out = tmp_path / "kg"
    run_job(spark, str(src), str(out), n_parts=2, engine=engine)
    assert (out / "anchor_weights" / "metadata").exists()

    # fold one new unrelated page incrementally
    extra = spark.createDataFrame(
        [("https://t.nl/p9", ts,
          b"<html><body><p>De redactie sprak met Maria Visser, 30 jaar "
          b"oud, uit Leiden.</p></body></html>", "nl")],
        "url string, warc_ts timestamp, html binary, lang string",
    )
    src2 = tmp_path / "pages2"
    pages.union(extra).write.parquet(str(src2))
    s2 = run_job(spark, str(src2), str(out), n_parts=2, engine=engine,
                 incremental=True)
    assert s2.get("incremental") or s2.get("parts_folded") is not None
    nodes = IceTable(out / "nodes").read(spark)
    forms = {
        r["canonical_form"]
        for r in nodes.filter(F.col("type") == "PERSOON").collect()
    }
    assert "jan van der bakkers" in forms  # anchor vote survived the fold
