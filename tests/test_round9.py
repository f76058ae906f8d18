"""Round-9 additions (VERDICT r8 items 4/6/7 + ADVICE r8):

- keyed (join-based) CDC MERGE: equivalence with the union+window form,
  multi-batch convergence, and the bucketed-snapshot no-Exchange plan pin
  (the lakehouse MERGE optimization — O(|batch|) shuffle per merge);
- BPE sampled rule learning (``sample_mod``): rule identity on a replicated
  corpus at K=1 vs K=4, and the corpus-wide apply path;
- grok oracle safety: every GROK_PATTERNS base regex must compile in DuckDB
  (RE2), and quote-escaping of the interpolated literal;
- maintenance cast guard: un-castable takedown ids fail LOUDLY instead of
  silently skipping the delete;
- oracle_check bounded-error assertion plumbing (violation path).
"""

import duckdb
import pytest
from pyspark.sql import functions as F


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture()
def change_data(spark):
    import random

    random.seed(17)
    rows = [
        (
            random.randint(0, 40),
            i,
            f"e{random.randint(0, 5)}",
            random.randint(0, 10_000),
            random.random() < 0.15,
        )
        for i in range(1500)
    ]
    return spark.createDataFrame(
        rows,
        "user_id long, event_id long, event_type string, cents long, "
        "is_delete boolean",
    )


class TestKeyedMerge:
    KEYS = ["user_id"]

    def _order(self):
        return [F.col("event_id")]

    def test_equivalent_to_union_window_form(self, spark, change_data):
        from dbt_decodable_spark.streaming.changelog import (
            fold_last_image,
            merge_changes_keyed,
            merge_changes_ordered,
        )

        tgt = fold_last_image(
            change_data.filter("event_id < 700"), self.KEYS, self._order()
        )
        bat = change_data.filter("event_id >= 700")
        a = merge_changes_ordered(tgt, bat, self.KEYS, self._order())
        b = merge_changes_keyed(tgt, bat, self.KEYS, self._order())
        assert _rows(a) == _rows(b)

    def test_multi_batch_convergence_to_global_fold(self, spark, change_data):
        """Sequential keyed merges over arbitrary batch splits converge to
        the global fold — the reference's change-stream contract
        (handler.py:89-94) under the join-based execution."""
        from dbt_decodable_spark.streaming.changelog import (
            fold_last_image,
            merge_changes_keyed,
        )

        state = fold_last_image(
            change_data.filter("event_id < 400"), self.KEYS, self._order()
        )
        for lo, hi in [(400, 900), (900, 1100), (1100, 1500)]:
            state = merge_changes_keyed(
                state,
                change_data.filter(f"event_id >= {lo} and event_id < {hi}"),
                self.KEYS,
                self._order(),
            )
        glob = fold_last_image(change_data, self.KEYS, self._order())
        assert _rows(state) == _rows(glob)

    def test_bucketed_state_side_is_shuffle_free(self, spark, tmp_path, change_data):
        """THE r9 scale deliverable: with the snapshot bucketed on the PK,
        the merge plan has NO Exchange above the state-side scan — only the
        micro-batch shuffles, so per-merge cost is O(|batch|) not
        O(|state|+|batch|)."""
        from dbt_decodable_spark.operators.bucketing import (
            materialize_bucketed,
            scan_shuffle_free,
        )
        from dbt_decodable_spark.streaming.changelog import (
            fold_last_image,
            merge_changes_keyed,
        )

        tgt = fold_last_image(
            change_data.filter("event_id < 700"), self.KEYS, self._order()
        )
        materialize_bucketed(
            tgt, "t_r9_snap", ["user_id"], 4, path=str(tmp_path / "snap")
        )
        try:
            state = spark.table("t_r9_snap")
            merged = merge_changes_keyed(
                state,
                change_data.filter("event_id >= 700"),
                self.KEYS,
                self._order(),
            )
            assert scan_shuffle_free(merged, "t_r9_snap"), (
                merged._jdf.queryExecution().executedPlan().toString()
            )
            # and the optimization changed nothing about the answer
            from dbt_decodable_spark.streaming.changelog import (
                merge_changes_ordered,
            )

            ref = merge_changes_ordered(
                tgt,
                change_data.filter("event_id >= 700"),
                self.KEYS,
                self._order(),
            )
            assert _rows(merged) == _rows(ref)
        finally:
            spark.sql("DROP TABLE IF EXISTS t_r9_snap")

    def test_unbucketed_state_control_does_shuffle(self, spark, tmp_path, change_data):
        from dbt_decodable_spark.operators.bucketing import scan_shuffle_free
        from dbt_decodable_spark.streaming.changelog import (
            fold_last_image,
            merge_changes_keyed,
        )

        tgt = fold_last_image(
            change_data.filter("event_id < 700"), self.KEYS, self._order()
        )
        flat = str(tmp_path / "flat_snap")
        tgt.write.parquet(flat)
        merged = merge_changes_keyed(
            spark.read.parquet(flat),
            change_data.filter("event_id >= 700"),
            self.KEYS,
            self._order(),
        )
        assert not scan_shuffle_free(merged, "flat_snap")

    def test_tombstone_and_resurrection(self, spark):
        """A newer-order delete tombstones the key; an even newer upsert
        resurrects it — order decides, not arrival."""
        from dbt_decodable_spark.streaming.changelog import merge_changes_keyed

        ddl = "k long, seq long, v string, is_delete boolean"
        tgt = spark.createDataFrame([(1, 10, "a", False), (2, 10, "b", False)], ddl)
        batch = spark.createDataFrame(
            [(1, 20, "a", True), (1, 30, "a2", False), (2, 5, "stale", True)], ddl
        )
        out = {
            r.k: (r.seq, r.v, r.is_delete)
            for r in merge_changes_keyed(
                tgt, batch, ["k"], [F.col("seq")]
            ).collect()
        }
        assert out[1] == (30, "a2", False)  # resurrected past the tombstone
        assert out[2] == (10, "b", False)  # stale delete loses to state


class TestBpeSampleMod:
    def _docs(self, spark):
        texts = [
            "the cat sat on the mat",
            "the dog ate the bone",
            "a cat and a dog",
            "the the the",
            "bone of the dog",
            "mat of the cat",
            "dog dog cat cat",
            "on and on and on",
            "a bone a mat a cat",
            "the mat the bone",
        ]
        # replicated corpus: every text appears under many doc_ids, so any
        # uniform hash-sample preserves the pair-frequency ranking
        rows = [(i, texts[i % len(texts)]) for i in range(400)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_sample_mod_none_equals_one(self, spark):
        from dbt_decodable_spark.operators.bpe import learn_merges

        docs = self._docs(spark)
        r_none, _ = learn_merges(docs, "text", rounds=3)
        r_one, _ = learn_merges(docs, "text", rounds=3, sample_mod=1)
        assert r_none == r_one

    def test_sampled_rules_match_full_on_replicated_corpus(self, spark):
        from dbt_decodable_spark.operators.bpe import learn_merges

        docs = self._docs(spark)
        full_rules, _ = learn_merges(docs, "text", rounds=3)
        samp_rules, seg = learn_merges(docs, "text", rounds=3, sample_mod=4)
        # same merge decisions (counts differ — they are sample counts)
        assert [(a, b) for _, a, b, _ in full_rules] == [
            (a, b) for _, a, b, _ in samp_rules
        ]
        # the apply path covers the FULL corpus, not the sample
        assert seg.count() == 400
        # and applies the same segmentation as the full-corpus trainer
        _, full_seg = learn_merges(docs, "text", rounds=3)
        a = {r.doc_id: r.sym_string for r in full_seg.collect()}
        b = {r.doc_id: r.sym_string for r in seg.collect()}
        assert a == b


class TestGrokOracleSafety:
    def test_every_base_pattern_compiles_in_duckdb(self):
        """ADVICE r8: a Python-only regex construct (RE2 rejects e.g.
        backrefs/lookaheads) would silently corrupt the oracle at judge
        time. Pin every base pattern + every compiled registered pattern."""
        from dbt_decodable_spark.functions.grok import (
            GROK_PATTERNS,
            compile_pattern,
        )

        con = duckdb.connect()
        for name, base in GROK_PATTERNS.items():
            lit = base.replace("'", "''")
            con.sql(f"SELECT regexp_matches('probe', '{lit}')").fetchall()
        for pat in (
            r"%{IP:client} %{WORD:service}:%{INT:port} %{NUMBER:dur} "
            r"%{LOGLEVEL:level}",
        ):
            regex, _ = compile_pattern(pat)
            lit = regex.replace("'", "''")
            con.sql(f"SELECT regexp_matches('probe', '{lit}')").fetchall()

    def test_quote_escaping_roundtrip(self):
        """A pattern containing a single quote must survive SQL-literal
        interpolation via the '' doubling the query module now applies."""
        regex = r"won't|can't"
        lit = regex.replace("'", "''")
        con = duckdb.connect()
        [(hit,)] = con.sql(
            f"SELECT regexp_matches('it won''t work', '{lit}')"
        ).fetchall()
        assert hit is True

    def test_registered_syslog_literal_is_escaped(self):
        from dbt_decodable_spark.queries import scalar_functions as sf

        assert sf._SYSLOG_REGEX_SQL == sf._SYSLOG_REGEX.replace("'", "''")
        assert "'{_SYSLOG_REGEX}'" not in open(sf.__file__).read()


class TestMaintenanceCastGuard:
    def test_uncastable_id_fails_loudly(self, spark, tmp_path):
        """ADVICE r8: an id that can't cast to the table's id dtype must
        raise (listing the ids), not silently skip the delete."""
        from dbt_decodable_spark.operators.maintenance import (
            delete_rows_partitioned,
        )

        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(i, f"p{i % 2}") for i in range(20)], "doc_id long, part string"
        ).write.partitionBy("part").parquet(path)
        with pytest.raises(ValueError, match="not-an-int"):
            delete_rows_partitioned(
                spark, path, "part", "doc_id", [3, "not-an-int"]
            )
        # nothing was deleted by the failed call
        assert spark.read.parquet(path).count() == 20

    def test_crash_between_swap_renames_recovers_partition(
        self, spark, tmp_path
    ):
        """Review r9 follow-up: the same orphan-restore the partial-rewrite
        merge got — a death between rename(pdir, old) and rename(tmp, pdir)
        leaves stage/<part>.old as the ONLY copy of the partition's
        surviving rows; the next run must restore it, not rmtree it."""
        import os

        from dbt_decodable_spark.operators.maintenance import (
            delete_rows_partitioned,
        )

        path = str(tmp_path / "t3")
        spark.createDataFrame(
            [(i, f"p{i % 2}") for i in range(20)], "doc_id long, part string"
        ).write.partitionBy("part").parquet(path)
        # fabricate the crash state: partition p0 moved aside into stage
        stage = path + ".__del_stage__"
        os.makedirs(stage, exist_ok=True)
        os.rename(
            os.path.join(path, "part=p0"),
            os.path.join(stage, "part=p0.old"),
        )
        # replay the purge — doc_id 4 lives in the orphaned p0
        deleted = delete_rows_partitioned(spark, path, "part", "doc_id", [4])
        assert deleted == {"p0": 1}
        left = spark.read.parquet(path)
        assert left.count() == 19  # all of p0's other rows survived
        assert left.filter("doc_id = 4").count() == 0
        assert not os.path.exists(stage)

    def test_castable_ids_still_delete(self, spark, tmp_path):
        from dbt_decodable_spark.operators.maintenance import (
            delete_rows_partitioned,
        )

        path = str(tmp_path / "t2")
        spark.createDataFrame(
            [(i, f"p{i % 2}") for i in range(20)], "doc_id long, part string"
        ).write.partitionBy("part").parquet(path)
        deleted = delete_rows_partitioned(spark, path, "part", "doc_id", [4])
        assert deleted == {"p0": 1}
        assert spark.read.parquet(path).count() == 19


class TestScd2IncrementalMerge:
    """scd2_merge_batch folded over time-ordered batches equals the
    full-rebuild scd2_from_changelog over the concatenated change log."""

    DDL = "k long, ts long, v string"

    def _changes(self):
        import random

        random.seed(23)
        rows = []
        ts = 0
        for _ in range(120):
            ts += random.randint(1, 3)  # strictly increasing global time
            rows.append((random.randint(0, 9), ts, f"v{ts}"))
        return rows

    def test_converges_to_full_rebuild(self, spark):
        from dbt_decodable_spark.streaming.changelog import (
            scd2_from_changelog,
            scd2_merge_batch,
        )

        rows = self._changes()
        # time-ordered splits (preserves per-key order by construction)
        cuts = [0, 30, 31, 75, 120]
        state = scd2_from_changelog(
            spark.createDataFrame(rows[: cuts[1]], self.DDL), ["k"], "ts"
        )
        for lo, hi in zip(cuts[1:], cuts[2:]):
            if lo == hi:
                continue
            state = scd2_merge_batch(
                state,
                spark.createDataFrame(rows[lo:hi], self.DDL),
                ["k"],
                "ts",
            ).localCheckpoint()
        want = scd2_from_changelog(
            spark.createDataFrame(rows, self.DDL), ["k"], "ts"
        )
        assert sorted(map(tuple, state.collect())) == sorted(
            map(tuple, want.collect())
        )

    def test_custom_order_disagreeing_with_ts(self, spark):
        """Review r9: with order=[seq] and ts NOT monotone in seq, the
        close-out must use the ORDER-FIRST new version's valid_from (the
        rebuild chains by order), not min(valid_from)."""
        from dbt_decodable_spark.streaming.changelog import (
            scd2_from_changelog,
            scd2_merge_batch,
        )

        ddl = "k long, seq long, ts long, v string"
        init_rows = [(1, 0, 5, "a")]
        batch_rows = [(1, 1, 10, "b"), (1, 2, 9, "c")]  # ts regresses at seq 2
        init = scd2_from_changelog(
            spark.createDataFrame(init_rows, ddl), ["k"], "ts",
            order=[F.col("seq")],
        )
        merged = scd2_merge_batch(
            init,
            spark.createDataFrame(batch_rows, ddl),
            ["k"],
            "ts",
            order=[F.col("seq")],
        )
        want = scd2_from_changelog(
            spark.createDataFrame(init_rows + batch_rows, ddl), ["k"], "ts",
            order=[F.col("seq")],
        )
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, want.collect())
        )
        # the old current row closes at the seq-first version's ts (10)
        closed = merged.filter("seq = 0").collect()[0]
        assert closed.valid_to == 10 and not closed.is_current

    def test_new_key_and_single_current_invariant(self, spark):
        from dbt_decodable_spark.streaming.changelog import (
            scd2_from_changelog,
            scd2_merge_batch,
        )

        init = scd2_from_changelog(
            spark.createDataFrame([(1, 10, "a"), (1, 20, "b")], self.DDL),
            ["k"],
            "ts",
        )
        merged = scd2_merge_batch(
            init,
            spark.createDataFrame([(1, 30, "c"), (2, 30, "x")], self.DDL),
            ["k"],
            "ts",
        )
        cur = {
            r.k: (r.v, r.valid_from)
            for r in merged.filter("is_current").collect()
        }
        assert cur == {1: ("c", 30), 2: ("x", 30)}
        # exactly one current row per key; closed chain is contiguous
        per_k = merged.filter("k = 1").orderBy("valid_from").collect()
        assert [r.valid_to for r in per_k] == [20, 30, None]


class TestPartialRewriteMerge:
    """merge_into_hash_partitioned: MERGE write amplification bounded by
    touched partitions — untouched bucket directories keep byte-identical
    files (inodes), reads prune to touched buckets, and the converged
    content equals the global fold."""

    DDL = "k long, seq long, v long, is_delete boolean"

    def _inodes(self, pdir):
        import os

        return {
            f: os.stat(os.path.join(pdir, f)).st_ino
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        }

    def _build(self, spark, tmp_path, n_buckets=8):
        from dbt_decodable_spark.streaming.changelog import (
            write_hash_partitioned,
        )

        path = str(tmp_path / "snap")
        init = spark.createDataFrame(
            [(i, 0, i * 10, False) for i in range(200)], self.DDL
        )
        write_hash_partitioned(init, path, ["k"], n_buckets)
        return path, init

    def test_untouched_buckets_keep_inodes_and_content_converges(
        self, spark, tmp_path
    ):
        import os

        from dbt_decodable_spark.streaming.changelog import (
            fold_last_image,
            hash_bucket,
            merge_into_hash_partitioned,
        )

        path, init = self._build(spark, tmp_path)
        # batch touches exactly the keys 0..9 → a strict subset of buckets
        batch = spark.createDataFrame(
            [(i, 1, i * 100, i % 5 == 0) for i in range(10)], self.DDL
        )
        touched_ids = {
            r[0]
            for r in batch.select(hash_bucket(["k"], 8)).distinct().collect()
        }
        assert 0 < len(touched_ids) < 8
        before = {
            b: self._inodes(os.path.join(path, f"__bucket={b}"))
            for b in range(8)
        }
        result = merge_into_hash_partitioned(
            spark, path, batch, ["k"], [F.col("seq")], 8
        )
        assert set(result) == touched_ids
        for b in range(8):
            if b not in touched_ids:
                assert (
                    self._inodes(os.path.join(path, f"__bucket={b}"))
                    == before[b]
                ), f"untouched bucket {b} was rewritten"
        # converged content = global fold of init ∪ batch (incl. tombstones)
        want = fold_last_image(
            init.unionByName(batch), ["k"], [F.col("seq")]
        )
        got = spark.read.parquet(path).drop("__bucket")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )

    def test_read_prunes_to_touched_buckets(self, spark, tmp_path):
        path, _ = self._build(spark, tmp_path)
        one = spark.read.parquet(path).filter(F.col("__bucket").isin([3]))
        plan = one._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        frag = plan.split("PartitionFilters")[1][:200]
        assert "__bucket" in frag
        pushed = (
            plan.split("PushedFilters")[1][:200]
            if "PushedFilters" in plan
            else ""
        )
        assert "__bucket" not in pushed  # directory filter, not data filter

    def test_idempotent_replay(self, spark, tmp_path):
        from dbt_decodable_spark.streaming.changelog import (
            merge_into_hash_partitioned,
        )

        path, _ = self._build(spark, tmp_path)
        batch = spark.createDataFrame(
            [(3, 1, 999, False), (1000, 1, 1, False)], self.DDL
        )  # key 1000 lands in a bucket as a new key
        r1 = merge_into_hash_partitioned(
            spark, path, batch, ["k"], [F.col("seq")], 8
        )
        snap1 = sorted(map(tuple, spark.read.parquet(path).collect()))
        r2 = merge_into_hash_partitioned(
            spark, path, batch, ["k"], [F.col("seq")], 8
        )
        snap2 = sorted(map(tuple, spark.read.parquet(path).collect()))
        assert r1 == r2 and snap1 == snap2
        assert (
            spark.read.parquet(path).filter("k = 1000").count() == 1
        )

    def test_crash_between_swap_renames_recovers_old_copy(
        self, spark, tmp_path
    ):
        """Review r9: a death between rename(dst, old) and rename(src, dst)
        leaves stage/__bucket=b.old as the ONLY copy of b's prior state.
        The next merge must restore it before clearing the stage —
        otherwise the bucket is silently rebuilt from the batch alone."""
        import os
        import shutil

        from dbt_decodable_spark.streaming.changelog import (
            fold_last_image,
            hash_bucket,
            merge_into_hash_partitioned,
        )

        path, init = self._build(spark, tmp_path)
        # pick the bucket key 7 lives in and fabricate the crash state:
        # base/__bucket=b moved aside into the stage as .old
        [b] = [
            r[0]
            for r in spark.createDataFrame([(7,)], "k long")
            .select(hash_bucket(["k"], 8))
            .collect()
        ]
        stage = path + ".__merge_stage__"
        os.makedirs(stage, exist_ok=True)
        os.rename(
            os.path.join(path, f"__bucket={b}"),
            os.path.join(stage, f"__bucket={b}.old"),
        )
        # also leave a half-written src dir, as the crashed write would
        os.makedirs(os.path.join(stage, f"__bucket={b}"), exist_ok=True)
        batch = spark.createDataFrame([(7, 1, 777, False)], self.DDL)
        merge_into_hash_partitioned(
            spark, path, batch, ["k"], [F.col("seq")], 8
        )
        shutil.rmtree(stage, ignore_errors=True)
        # every pre-existing key of bucket b survived, plus the update
        want = fold_last_image(
            init.unionByName(batch), ["k"], [F.col("seq")]
        )
        got = spark.read.parquet(path).drop("__bucket")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )

    def test_empty_batch_is_noop(self, spark, tmp_path):
        from dbt_decodable_spark.streaming.changelog import (
            merge_into_hash_partitioned,
        )

        path, _ = self._build(spark, tmp_path)
        empty = spark.createDataFrame([], self.DDL)
        assert (
            merge_into_hash_partitioned(
                spark, path, empty, ["k"], [F.col("seq")], 8
            )
            == {}
        )

    def test_range_layout_preserves_key_locality(self, spark, tmp_path):
        """A range-aligned partition_expr keeps a contiguous-key batch in
        few partitions (hash scatters it across ~all of them) — the layout
        decision that bounds write amplification for time-correlated CDC
        keys (measured 2/50 vs 61/64 partitions in SCALING.md)."""
        from dbt_decodable_spark.streaming.changelog import (
            fold_last_image,
            merge_into_hash_partitioned,
            write_hash_partitioned,
        )

        path = str(tmp_path / "rng")
        init = spark.createDataFrame(
            [(i, 0, i * 10, False) for i in range(200)], self.DDL
        )
        rng = F.expr("k div 25")  # 8 range partitions
        write_hash_partitioned(init, path, ["k"], 8, partition_expr=rng)
        batch = spark.createDataFrame(
            [(i, 1, i, False) for i in range(50, 60)], self.DDL
        )
        res = merge_into_hash_partitioned(
            spark, path, batch, ["k"], [F.col("seq")], 8, partition_expr=rng
        )
        assert set(res) == {2}  # 10 contiguous keys → exactly one partition
        want = fold_last_image(
            init.unionByName(batch), ["k"], [F.col("seq")]
        )
        got = spark.read.parquet(path).drop("__bucket")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )


class TestMergeOnRead:
    """read_with_deltas: a reader sees the same converged state whether a
    batch was merged in (merge-on-write) or still sits as a delta file;
    compact_deltas folds the deltas in and the view is unchanged."""

    DDL = "k long, seq long, v long, is_delete boolean"

    def test_view_equals_merged_state(self, spark, tmp_path):
        from dbt_decodable_spark.streaming.changelog import (
            fold_last_image,
            read_with_deltas,
            write_hash_partitioned,
        )

        base = str(tmp_path / "base")
        init = spark.createDataFrame(
            [(i, 0, i * 10, False) for i in range(100)], self.DDL
        )
        write_hash_partitioned(init, base, ["k"], 8)
        d1 = spark.createDataFrame(
            [(3, 1, 333, False), (4, 1, 0, True)], self.DDL
        )
        d2 = spark.createDataFrame(
            [(3, 2, 999, False), (200, 1, 7, False)], self.DDL
        )
        p1, p2 = str(tmp_path / "d1"), str(tmp_path / "d2")
        d1.write.parquet(p1)
        d2.write.parquet(p2)
        view = read_with_deltas(
            spark, base, [p1, p2], ["k"], [F.col("seq")]
        )
        want = fold_last_image(
            init.unionByName(d1).unionByName(d2), ["k"], [F.col("seq")]
        ).filter("NOT is_delete")
        assert sorted(map(tuple, view.collect())) == sorted(
            map(tuple, want.collect())
        )
        # tombstoned key 4 is hidden by default, visible on request
        assert view.filter("k = 4").count() == 0
        raw = read_with_deltas(
            spark, base, [p1, p2], ["k"], [F.col("seq")],
            include_tombstones=True,
        )
        assert raw.filter("k = 4 AND is_delete").count() == 1

    def test_compact_then_read_is_identical(self, spark, tmp_path):
        from dbt_decodable_spark.streaming.changelog import (
            compact_deltas,
            read_with_deltas,
            write_hash_partitioned,
        )

        base = str(tmp_path / "base")
        init = spark.createDataFrame(
            [(i, 0, i * 10, False) for i in range(100)], self.DDL
        )
        write_hash_partitioned(init, base, ["k"], 8)
        d1 = spark.createDataFrame(
            [(5, 1, 50, False), (5, 2, 55, False), (6, 1, 0, True)], self.DDL
        )
        p1 = str(tmp_path / "d1")
        d1.write.parquet(p1)
        before = sorted(
            map(
                tuple,
                read_with_deltas(
                    spark, base, [p1], ["k"], [F.col("seq")]
                ).collect(),
            )
        )
        res = compact_deltas(
            spark, base, [p1], ["k"], [F.col("seq")], 8
        )
        assert res  # some buckets rewritten
        after = sorted(
            map(
                tuple,
                read_with_deltas(
                    spark, base, [], ["k"], [F.col("seq")]
                ).collect(),
            )
        )
        assert before == after
        # cross-delta winner resolved: k=5 holds seq 2
        snap = spark.read.parquet(base)
        assert snap.filter("k = 5 AND seq = 2 AND v = 55").count() == 1


class TestCdcSnapshotDdlRecovery:
    """The stream_cdc_merge crash-recovery path re-registers the snapshot
    via CREATE TABLE ... CLUSTERED BY ... LOCATION after a catalog loss.
    The re-registered table must STILL plan the merge shuffle-free on the
    state side — otherwise recovery silently loses the whole optimization."""

    def test_reregistered_table_is_still_shuffle_free(self, spark, tmp_path):
        from dbt_decodable_spark.operators.bucketing import (
            materialize_bucketed,
            scan_shuffle_free,
        )
        from dbt_decodable_spark.streaming.changelog import (
            fold_last_image,
            merge_changes_keyed,
        )

        ddl = (
            "user_id long, ts_event timestamp, event_id long, "
            "event_type string, cents long, is_delete boolean"
        )
        rows = [
            (i % 30, None, i, f"e{i % 4}", i * 3, i % 20 == 0)
            for i in range(300)
        ]
        df = spark.createDataFrame(rows, ddl).withColumn(
            "ts_event", F.timestamp_seconds(F.col("event_id"))
        )
        snap = fold_last_image(
            df.filter("event_id < 200"), ["user_id"],
            [F.col("ts_event"), F.col("event_id")],
        )
        loc = str(tmp_path / "snap_v0")
        materialize_bucketed(snap, "t_r9_ddl_a", ["user_id"], 8, path=loc)
        # simulate catalog loss, then the production recovery DDL
        spark.sql("DROP TABLE t_r9_ddl_a")
        spark.sql(
            "CREATE TABLE t_r9_ddl_b (user_id BIGINT, ts_event TIMESTAMP, "
            "event_id BIGINT, event_type STRING, cents BIGINT, "
            "is_delete BOOLEAN) USING PARQUET CLUSTERED BY (user_id) "
            f"SORTED BY (user_id) INTO 8 BUCKETS LOCATION '{loc}'"
        )
        try:
            merged = merge_changes_keyed(
                spark.table("t_r9_ddl_b"),
                df.filter("event_id >= 200"),
                ["user_id"],
                [F.col("ts_event"), F.col("event_id")],
            )
            assert scan_shuffle_free(merged, "t_r9_ddl_b"), (
                merged._jdf.queryExecution().executedPlan().toString()
            )
            # and content equals the global fold
            want = fold_last_image(
                df, ["user_id"], [F.col("ts_event"), F.col("event_id")]
            )
            assert sorted(map(tuple, merged.collect())) == sorted(
                map(tuple, want.collect())
            )
        finally:
            spark.sql("DROP TABLE IF EXISTS t_r9_ddl_b")


from hypothesis import HealthCheck, given, settings, strategies as st


@st.composite
def _cdc_case(draw):
    n = draw(st.integers(1, 18))
    # unique seq per change record (the deterministic tie-breaker the
    # operator contract requires); key space small to force collisions
    seqs = draw(st.permutations(list(range(n))))
    rows = [
        (
            seq,
            f"k{draw(st.integers(0, 3))}",
            draw(st.integers(0, 99)),
            draw(st.booleans()),
        )
        for seq in seqs
    ]
    assignment = [draw(st.integers(0, 3)) for _ in rows]
    return rows, assignment


class TestKeyedMergeProperty:
    """Same convergence property the union form carries
    (test_round8.TestCdcMergeProperty), for the join-based keyed form:
    batch-by-batch merge_changes_keyed equals the global last-image fold
    for ANY micro-batch split and ANY within/across-batch order."""

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(case=_cdc_case())
    def test_any_batch_split_converges(self, spark, case):
        from dbt_decodable_spark.streaming.changelog import (
            fold_last_image,
            merge_changes_keyed,
        )

        rows, assignment = case
        ddl = "seq long, key string, v long, is_delete boolean"
        state = spark.createDataFrame([], ddl)
        for b in range(4):
            batch = [r for r, a in zip(rows, assignment) if a == b]
            if not batch:
                continue
            state = merge_changes_keyed(
                state,
                spark.createDataFrame(batch, ddl),
                keys=["key"],
                order=["seq"],
            ).localCheckpoint()
        want = fold_last_image(
            spark.createDataFrame(rows, ddl), keys=["key"], order=["seq"]
        )
        assert {tuple(r) for r in state.collect()} == {
            tuple(r) for r in want.collect()
        }


class TestBoundedErrorCheck:
    def test_violation_detected(self):
        import tools.oracle_check as oc

        con = duckdb.connect()
        con.sql("CREATE TABLE lineitem AS SELECT range AS l_partkey FROM range(100)")
        oc.BOUNDED_ERROR["__t"] = (
            "SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS approx_parts "
            "FROM lineitem",
            0.05,
        )
        try:
            ok = oc.check_bounded_error("__t", [(100,)], ["approx_parts"], con)
            assert ok is None
            bad = oc.check_bounded_error("__t", [(120,)], ["approx_parts"], con)
            assert bad is not None and "exceeds" in bad
            shape = oc.check_bounded_error("__t", [(100,)], ["wrong_col"], con)
            assert shape is not None
        finally:
            del oc.BOUNDED_ERROR["__t"]


class TestDeltaLogLifecycle:
    """append_delta / list_deltas / read_merged / compact_and_vacuum: the
    managed merge-on-read lifecycle — _SUCCESS-gated delta commit, view
    equal to the global fold at every stage, idempotent replay between
    merge and vacuum, uncommitted leftovers invisible and swept."""

    DDL = "k long, seq long, v long, is_delete boolean"

    def _snap(self, spark, tmp_path):
        from dbt_decodable_spark.streaming.changelog import (
            write_hash_partitioned,
        )

        base = str(tmp_path / "base")
        init = spark.createDataFrame(
            [(i, 0, i * 10, False) for i in range(100)], self.DDL
        )
        write_hash_partitioned(
            init, base, ["k"], 5, partition_expr=F.expr("k div 20")
        )
        return base, init

    def _rows(self, df):
        return sorted(map(tuple, df.collect()))

    def test_lifecycle_append_read_compact_vacuum(self, spark, tmp_path):
        import os

        from dbt_decodable_spark.streaming.changelog import (
            append_delta,
            compact_and_vacuum,
            fold_last_image,
            list_deltas,
            read_merged,
        )

        base, init = self._snap(spark, tmp_path)
        batches = [
            [(3, 1, 333, False), (4, 1, 0, True)],
            [(3, 2, 999, False), (200, 1, 7, False)],
            [(4, 3, 444, False), (50, 1, 555, False)],  # resurrection + update
        ]
        all_rows = init
        for b in batches:
            bdf = spark.createDataFrame(b, self.DDL)
            p = append_delta(spark, base, bdf)
            assert os.path.exists(os.path.join(p, "_SUCCESS"))
            all_rows = all_rows.unionByName(bdf)
        assert len(list_deltas(base)) == 3
        want = fold_last_image(all_rows, ["k"], [F.col("seq")]).filter(
            "NOT is_delete"
        )
        view_before = read_merged(spark, base, ["k"], [F.col("seq")])
        assert self._rows(view_before) == self._rows(want)
        out = compact_and_vacuum(spark, base, ["k"], [F.col("seq")], 5,
                                 partition_expr=F.expr("k div 20"))
        assert len(out["vacuumed"]) == 3
        assert list_deltas(base) == []
        # view unchanged by compaction; snapshot itself now carries it
        view_after = read_merged(spark, base, ["k"], [F.col("seq")])
        assert self._rows(view_after) == self._rows(want)
        assert view_after.filter("k = 4").collect()[0]["v"] == 444

    def test_uncommitted_delta_invisible_and_swept(self, spark, tmp_path):
        import os

        from dbt_decodable_spark.streaming.changelog import (
            _deltas_root,
            append_delta,
            list_deltas,
            read_merged,
        )

        base, init = self._snap(spark, tmp_path)
        root = _deltas_root(base)
        os.makedirs(os.path.join(root, "delta-00000007"))
        # fabricate a crashed write: parquet data but NO _SUCCESS marker
        spark.createDataFrame([(1, 9, 777, False)], self.DDL).write.mode(
            "overwrite"
        ).parquet(os.path.join(root, "delta-00000007.tmp"))
        os.rename(
            os.path.join(root, "delta-00000007.tmp", "_SUCCESS"),
            os.path.join(root, "gone"),
        )
        for f in os.listdir(os.path.join(root, "delta-00000007.tmp")):
            os.rename(
                os.path.join(root, "delta-00000007.tmp", f),
                os.path.join(root, "delta-00000007", f),
            )
        os.rmdir(os.path.join(root, "delta-00000007.tmp"))
        assert list_deltas(base) == []
        view = read_merged(spark, base, ["k"], [F.col("seq")])
        assert view.filter("k = 1").collect()[0]["v"] == 10  # not 777
        p = append_delta(
            spark, base, spark.createDataFrame([(2, 1, 22, False)], self.DDL)
        )
        # the crashed dir was swept; the new delta numbered from scratch
        assert not os.path.exists(os.path.join(root, "delta-00000007"))
        assert p.endswith("delta-00000000")

    def test_half_deleted_delta_at_claim_slot_is_swept(
        self, spark, tmp_path, monkeypatch
    ):
        """A crash while compaction deletes a log's only delta can remove
        its _SUCCESS first (rmtree goes in directory-hash order) and leave
        part files at delta-00000000 — the very slot the next untagged
        append claims. The append's sweep must clear it; without it the
        claim would fail with ENOTEMPTY, re-list, and pick slot 0 forever."""
        import os
        import shutil

        from dbt_decodable_spark.streaming.changelog import (
            append_delta,
            compact_and_vacuum,
            fold_last_image,
            list_deltas,
            read_merged,
        )

        class Crash(RuntimeError):
            pass

        base, init = self._snap(spark, tmp_path)
        b1 = spark.createDataFrame(
            [(1, 1, 11, False), (2, 1, 0, True)], self.DDL
        )
        p = append_delta(spark, base, b1)
        assert p.endswith("delta-00000000")
        real_rmtree = shutil.rmtree

        def crashing_rmtree(path, *a, **kw):
            if os.path.abspath(path) == os.path.abspath(p):
                os.remove(os.path.join(path, "_SUCCESS"))
                raise Crash("crash mid-delete of the newest delta")
            return real_rmtree(path, *a, **kw)

        with monkeypatch.context() as mp:
            mp.setattr(shutil, "rmtree", crashing_rmtree)
            with pytest.raises(Crash):
                compact_and_vacuum(spark, base, ["k"], [F.col("seq")], 5,
                                   partition_expr=F.expr("k div 20"))
        assert os.listdir(p) and list_deltas(base) == []
        b2 = spark.createDataFrame([(3, 2, 33, False)], self.DDL)
        assert append_delta(spark, base, b2).endswith("delta-00000000")
        want = fold_last_image(
            init.unionByName(b1).unionByName(b2), ["k"], [F.col("seq")]
        ).filter("NOT is_delete")
        view = read_merged(spark, base, ["k"], [F.col("seq")])
        assert self._rows(view) == self._rows(want)

    def test_replay_between_merge_and_vacuum_is_idempotent(self, spark, tmp_path):
        from dbt_decodable_spark.streaming.changelog import (
            append_delta,
            compact_and_vacuum,
            compact_deltas,
            list_deltas,
            read_merged,
        )

        base, init = self._snap(spark, tmp_path)
        append_delta(
            spark, base,
            spark.createDataFrame([(7, 1, 77, False), (8, 1, 0, True)], self.DDL),
        )
        want = self._rows(read_merged(spark, base, ["k"], [F.col("seq")]))
        # crash simulation: the merge completed but the vacuum never ran
        compact_deltas(
            spark, base, list_deltas(base), ["k"], [F.col("seq")], 5,
            partition_expr=F.expr("k div 20"),
        )
        assert len(list_deltas(base)) == 1  # delta still on disk
        # reader folds the already-merged delta again — same state
        assert self._rows(read_merged(spark, base, ["k"], [F.col("seq")])) == want
        # the retried compaction converges and completes the vacuum
        out = compact_and_vacuum(spark, base, ["k"], [F.col("seq")], 5,
                                 partition_expr=F.expr("k div 20"))
        assert len(out["vacuumed"]) == 1 and list_deltas(base) == []
        assert self._rows(read_merged(spark, base, ["k"], [F.col("seq")])) == want


class TestStreamAppendDeltas:
    """stream_append_deltas: Structured-Streaming ingestion into the
    merge-on-read table — one committed delta per micro-batch,
    threshold-triggered compact_and_vacuum inside the handler, final view
    equal to the batch fold of everything ingested."""

    DDL = "k long, seq long, v long, is_delete boolean"

    def test_multi_batch_ingest_converges_and_compacts(self, spark, tmp_path):
        import os

        from dbt_decodable_spark.streaming.changelog import (
            fold_last_image,
            list_deltas,
            read_merged,
            stream_append_deltas,
            write_hash_partitioned,
        )

        base = str(tmp_path / "base")
        init = spark.createDataFrame(
            [(i, 0, i * 10, False) for i in range(60)], self.DDL
        )
        write_hash_partitioned(
            init, base, ["k"], 6, partition_expr=F.expr("k div 10")
        )
        # 5 source files → 5 micro-batches (maxFilesPerTrigger=1)
        src = str(tmp_path / "src")
        batches = []
        for j in range(5):
            rows = [(10 * j + i, j + 1, 1000 * (j + 1) + i, i == 3) for i in range(8)]
            batches.extend(rows)
            spark.createDataFrame(rows, self.DDL).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        stream = (
            spark.readStream.schema(self.DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream_append_deltas(
                stream, base, ["k"], [F.col("seq")], 6,
                partition_expr=F.expr("k div 10"), compact_every=2,
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        # compaction fired: fewer pending deltas than micro-batches
        assert len(list_deltas(base)) < 5
        got = read_merged(spark, base, ["k"], [F.col("seq")])
        want = fold_last_image(
            init.unionByName(spark.createDataFrame(batches, self.DDL)),
            ["k"],
            [F.col("seq")],
        ).filter("NOT is_delete")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )


class TestDeltaTagIdempotence:
    DDL = "k long, seq long, v long, is_delete boolean"

    def test_same_tag_lands_once(self, spark, tmp_path):
        from dbt_decodable_spark.streaming.changelog import (
            append_delta,
            list_deltas,
            write_hash_partitioned,
        )

        base = str(tmp_path / "base")
        init = spark.createDataFrame([(1, 0, 10, False)], self.DDL)
        write_hash_partitioned(init, base, ["k"], 2)
        b = spark.createDataFrame([(1, 1, 11, False)], self.DDL)
        p1 = append_delta(spark, base, b, tag="42")
        p2 = append_delta(spark, base, b, tag="42")  # the foreachBatch replay
        assert p1 is not None and p1.endswith("delta-00000000-42")
        assert p2 is None
        assert len(list_deltas(base)) == 1
        # a different batch still appends, numbered past
        p3 = append_delta(spark, base, b, tag="43")
        assert p3 is not None and p3.endswith("delta-00000001-43")
        assert len(list_deltas(base)) == 2

    def test_delta_name_parser(self):
        from dbt_decodable_spark.streaming.changelog import (
            int_tag,
            parse_delta_name,
        )

        assert parse_delta_name("delta-00000003") == (3, None)
        assert parse_delta_name("/t/x.__deltas__/delta-00000004-17") == (4, "17")
        assert int_tag("17") == 17
        compacted = parse_delta_name("delta-00000012-compacted-9-1a2b3c4d")
        assert compacted == (12, "compacted-9-1a2b3c4d")
        assert int_tag(compacted[1]) is None
        assert int_tag(None) is None


class TestDeltaSchemaEvolution:
    """Additive delta columns: readable via allow_schema_evolution with
    NULL back-fill; compaction refuses to silently drop them."""

    DDL = "k long, seq long, v long, is_delete boolean"
    DDL2 = "k long, seq long, v long, is_delete boolean, w string"

    def _setup(self, spark, tmp_path):
        from dbt_decodable_spark.streaming.changelog import (
            append_delta,
            write_hash_partitioned,
        )

        base = str(tmp_path / "base")
        init = spark.createDataFrame(
            [(i, 0, i * 10, False) for i in range(10)], self.DDL
        )
        write_hash_partitioned(init, base, ["k"], 2)
        append_delta(
            spark, base,
            spark.createDataFrame([(3, 1, 33, False, "new")], self.DDL2),
        )
        return base

    def test_read_evolved_with_backfill(self, spark, tmp_path):
        from dbt_decodable_spark.streaming.changelog import read_merged

        base = self._setup(spark, tmp_path)
        view = read_merged(
            spark, base, ["k"], [F.col("seq")], allow_schema_evolution=True
        )
        assert "w" in view.columns
        rows = {r["k"]: r["w"] for r in view.collect()}
        assert rows[3] == "new"
        assert rows[1] is None  # NULL back-fill for pre-evolution rows
        # strict mode still reads, projecting the delta to snapshot columns
        strict = read_merged(spark, base, ["k"], [F.col("seq")])
        assert "w" not in strict.columns and strict.count() == 10

    def test_compaction_refuses_evolved_delta(self, spark, tmp_path):
        import pytest as _pytest

        from dbt_decodable_spark.streaming.changelog import (
            compact_and_vacuum,
            list_deltas,
        )

        base = self._setup(spark, tmp_path)
        with _pytest.raises(RuntimeError, match="carries columns \\['w'\\]"):
            compact_and_vacuum(spark, base, ["k"], [F.col("seq")], 2)
        assert len(list_deltas(base)) == 1  # nothing vacuumed, nothing lost


class TestWidenSnapshotSchema:
    DDL = "k long, seq long, v long, is_delete boolean"
    DDL2 = "k long, seq long, v long, is_delete boolean, w string"

    def test_widen_then_compact_evolved_delta(self, spark, tmp_path):
        from dbt_decodable_spark.streaming.changelog import (
            append_delta,
            compact_and_vacuum,
            list_deltas,
            read_merged,
            widen_snapshot_schema,
            write_hash_partitioned,
        )

        base = str(tmp_path / "base")
        init = spark.createDataFrame(
            [(i, 0, i * 10, False) for i in range(10)], self.DDL
        )
        pexpr = F.expr("k div 5")
        write_hash_partitioned(init, base, ["k"], 2, partition_expr=pexpr)
        append_delta(
            spark, base,
            spark.createDataFrame([(3, 1, 33, False, "new")], self.DDL2),
        )
        widen_snapshot_schema(
            spark, base, {"w": "string"}, ["k"], 2, partition_expr=pexpr
        )
        # the previously-refused compaction now succeeds and keeps `w`
        compact_and_vacuum(spark, base, ["k"], [F.col("seq")], 2,
                           partition_expr=pexpr)
        assert list_deltas(base) == []
        view = read_merged(spark, base, ["k"], [F.col("seq")])
        rows = {r["k"]: (r["v"], r["w"]) for r in view.collect()}
        assert rows[3] == (33, "new")
        assert rows[1] == (10, None)

    def test_crash_between_renames_recovers_on_next_run(self, spark, tmp_path):
        # simulate a crash AFTER base->old but BEFORE tmp->base: the
        # snapshot dir is gone; the rerun must restore old, not delete it
        import os

        from dbt_decodable_spark.streaming.changelog import (
            widen_snapshot_schema,
            write_hash_partitioned,
        )

        base = str(tmp_path / "base")
        write_hash_partitioned(
            spark.createDataFrame(
                [(i, 0, i * 10, False) for i in range(10)], self.DDL
            ),
            base, ["k"], 2,
        )
        os.rename(base, base + ".__widen_old__")
        os.makedirs(base + ".__widen_tmp__")  # half-written leftover
        with open(os.path.join(base + ".__widen_tmp__", "part-0"), "w") as fh:
            fh.write("torn")
        widen_snapshot_schema(spark, base, {"w": "string"}, ["k"], 2)
        got = spark.read.parquet(base)
        assert sorted(r["k"] for r in got.collect()) == list(range(10))
        assert got.filter("w IS NOT NULL").count() == 0
        assert sorted(p.name for p in tmp_path.iterdir()) == ["base"]

    def test_widen_rejects_existing_column(self, spark, tmp_path):
        import pytest as _pytest

        from dbt_decodable_spark.streaming.changelog import (
            widen_snapshot_schema,
            write_hash_partitioned,
        )

        base = str(tmp_path / "base")
        write_hash_partitioned(
            spark.createDataFrame([(1, 0, 10, False)], self.DDL),
            base, ["k"], 2,
        )
        with _pytest.raises(RuntimeError, match="already exists"):
            widen_snapshot_schema(spark, base, {"v": "long"}, ["k"], 2)


class TestBucketColumnGuard:
    """A user column named __bucket must be rejected, not silently replaced
    by the layout id (readers drop '__bucket' on every scan — the column's
    data would vanish without an error)."""

    def test_writer_rejects_user_bucket_column(self, spark, tmp_path):
        import pytest as _pytest

        from dbt_decodable_spark.streaming.changelog import (
            merge_into_hash_partitioned,
            write_hash_partitioned,
        )

        bad = spark.createDataFrame([(1, 5)], "k long, __bucket long")
        with _pytest.raises(ValueError, match="__bucket"):
            write_hash_partitioned(bad, str(tmp_path / "t"), ["k"], 2)
        good = spark.createDataFrame([(1, 5)], "k long, v long")
        write_hash_partitioned(good, str(tmp_path / "t"), ["k"], 2)
        with _pytest.raises(ValueError, match="__bucket"):
            merge_into_hash_partitioned(
                spark, str(tmp_path / "t"), bad, ["k"], ["k"], 2
            )
