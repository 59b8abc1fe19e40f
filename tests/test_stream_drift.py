"""Streaming CUSUM drift gate: state must carry (pos, neg) across
micro-batches and the emitted trajectory must equal a pure-python fold
of the same rows in the same (batch, order) sequence."""

from __future__ import annotations

import json
import os


def _write_batches(drop):
    # key 1 runs hot (ref 5): values 7, 8 then 9, 6
    # key 2 runs cold: values 2 then 1
    b1 = [
        {"user_id": 1, "event_id": 10, "value": 7},
        {"user_id": 1, "event_id": 11, "value": 8},
        {"user_id": 2, "event_id": 20, "value": 2},
    ]
    b2 = [
        {"user_id": 1, "event_id": 12, "value": 9},
        {"user_id": 1, "event_id": 13, "value": 6},
        {"user_id": 2, "event_id": 21, "value": 1},
    ]
    f1, f2 = drop / "a_b1.jsonl", drop / "b_b2.jsonl"
    f1.write_text("\n".join(json.dumps(r) for r in b1) + "\n")
    f2.write_text("\n".join(json.dumps(r) for r in b2) + "\n")
    os.utime(f1, (1_700_000_000, 1_700_000_000))
    os.utime(f2, (1_700_000_100, 1_700_000_100))
    return [b1, b2]


def _py_fold(batches, ref, thr):
    state = {}
    out = []
    for batch in batches:
        per_key = {}
        for r in batch:
            per_key.setdefault(r["user_id"], []).append(r)
        for k, rows in per_key.items():
            sp, sn = state.get(k, (0, 0))
            for r in sorted(rows, key=lambda r: r["event_id"]):
                d = r["value"] - ref
                sp = max(0, sp + d)
                sn = max(0, sn - d)
                out.append(
                    (
                        k,
                        r["event_id"],
                        r["value"],
                        sp,
                        sn,
                        int(sp >= thr or sn >= thr),
                    )
                )
            state[k] = (sp, sn)
    return sorted(out)


def test_stream_cusum_across_batches(spark, tmp_path):
    from dbt_gdpr_anonymizer_spark.streaming.anonymize import drain
    from dbt_gdpr_anonymizer_spark.streaming.drift import stream_cusum

    drop = tmp_path / "events"
    drop.mkdir()
    batches = _write_batches(drop)
    stream = (
        spark.readStream.schema("user_id long, event_id long, value long")
        .option("maxFilesPerTrigger", "1")
        .json(str(drop))
    )
    gated = stream_cusum(
        stream, ref_num=5, ref_den=1, threshold=5
    )
    got = sorted(
        (
            r.user_id, r.event_id, r.value,
            r.cusum_pos_dx, r.cusum_neg_dx, r.alarm,
        )
        for r in drain(gated).collect()
    )
    assert got == _py_fold(batches, ref=5, thr=5)
    # key 1 must alarm on the hot side by event 12 (2+3+4 = 9 >= 5);
    # key 2 accumulates on the cold side (3 then 7 >= 5)
    by = {(r[0], r[1]): r for r in got}
    assert by[(1, 12)][5] == 1
    assert by[(2, 21)][5] == 1 and by[(2, 21)][4] == 7


def test_stream_cusum_rejects_bad_den(spark):
    import pytest

    from dbt_gdpr_anonymizer_spark.streaming.drift import stream_cusum

    df = spark.range(1)
    with pytest.raises(ValueError):
        stream_cusum(df, ref_num=5, ref_den=0)
