"""m27 gradient-boosted stumps: the relational histogram split search
must equal a sequential numpy reference (same bucket grid, same gain,
same truncating-integer leaf arithmetic) on a frame small enough to
enumerate by hand-written loops."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import Row


def _fdiv(x: int, d: int) -> int:
    # (x - x % d) / d with sign-of-dividend %, i.e. truncation toward
    # zero for d > 0 — the cross-engine identity the query uses
    q = abs(x) // d
    return q if x >= 0 else -q


def _ref_gbt(rows, rounds=2):
    vmin = min(r["vmic"] for r in rows)
    vmax = max(r["vmic"] for r in rows)
    recs = []
    for r in rows:
        f1b = _fdiv((r["vmic"] - vmin) * 20, vmax - vmin + 1)
        f2b = _fdiv(r["us"] % 86_400_000_000, 3_600_000_000)
        res = 1_000_000 if r["is_err"] else 0
        recs.append({"f1b": f1b, "f2b": f2b, "res": res})
    out = []
    for rnd in range(1, rounds + 1):
        st = sum(r["res"] for r in recs)
        nt = len(recs)
        best = None
        for feat, key in (("v", "f1b"), ("h", "f2b")):
            buckets = sorted({r[key] for r in recs})
            for b in buckets:
                nl = sum(1 for r in recs if r[key] <= b)
                if nl == 0 or nl == nt:
                    continue
                sl = sum(r["res"] for r in recs if r[key] <= b)
                gain = (float(sl) * float(sl)) / float(nl) + (
                    float(st - sl) * float(st - sl)
                ) / float(nt - nl)
                cand = (-gain, feat, b)
                if best is None or cand < best:
                    best = cand
                    best_split = (feat, b, nl, sl)
        feat, b, nl, sl = best_split
        pred_l = _fdiv(sl, nl)
        pred_r = _fdiv(st - sl, nt - nl)
        key = "f1b" if feat == "v" else "f2b"
        for r in recs:
            step = pred_l if r[key] <= b else pred_r
            r["res"] -= _fdiv(step, 2)
        sq = sum(_fdiv(r["res"], 1000) ** 2 for r in recs)
        rmse = round(math.sqrt(sq / nt), 6)
        out.append(
            {
                "rnd": rnd,
                "feat": feat,
                "split_bucket": b,
                "n_left": nl,
                "n_right": nt - nl,
                "pred_left": pred_l,
                "pred_right": pred_r,
                "rmse_milli": rmse,
            }
        )
    return out


def test_m27_matches_numpy_reference(spark, tmp_path):
    from openseizuredatabase_spark.plans.q_ml import m27_gbt_stumps

    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    rows = []
    for i in range(240):
        ts = base + dt.timedelta(hours=i % 24, minutes=7 * i % 53)
        value = ((i * 37) % 100) / 7.0 - 3.0
        is_err = (i % 7 == 0) or (value > 8.0)
        rows.append(
            Row(
                event_id=i,
                ts=ts,
                user_id=i % 9,
                event_type="error" if is_err else "click",
                value=float(value),
                props="{}",
            )
        )
    df = spark.createDataFrame(rows)
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/events.parquet")

    got = {
        r["rnd"]: r.asDict() for r in m27_gbt_stumps(spark, sf).collect()
    }
    ref_rows = [
        {
            "vmic": int(round(r["value"] * 1_000_000)),
            "us": int(
                (r["ts"] - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc))
                .total_seconds()
                * 1_000_000
            ),
            "is_err": r["event_type"] == "error",
        }
        for r in rows
    ]
    want = _ref_gbt(ref_rows)
    assert len(got) == 2
    for w in want:
        g = got[w["rnd"]]
        for k, v in w.items():
            if k == "rmse_milli":
                assert abs(g[k] - v) < 1e-9, (k, g[k], v)
            else:
                assert g[k] == v, (w["rnd"], k, g[k], v)
