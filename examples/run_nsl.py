"""Run the NSL-KDD intrusion-detection pipeline end-to-end — the
engine's replacement for the reference's 168-cell notebook.

    python examples/run_nsl.py [--fast] [--flow kmeans|gm|category|ensemble]

Defaults to the reference's full model sizes (RF 500x20, k=8); --fast
uses test-sized models (~1 min). Prints the per-strategy metric
report (detection rate / false-alarm rate / F1 — the reference's
headline numbers, BASELINE.md)."""

from __future__ import annotations

import argparse
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from nsl_kdd_spark.pipeline import NslConfig, gaussian_rf, kmeans_rf, nsl_ensemble  # noqa: E402
from nsl_kdd_spark.session import get_session  # noqa: E402

TRAIN = "/root/reference/NSL_KDD_Dataset/KDDTrain+_20Percent.txt"
TEST = "/root/reference/NSL_KDD_Dataset/KDDTest+.txt"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fast", action="store_true")
    ap.add_argument("--flow", choices=["kmeans", "gm", "ensemble", "category"],
                    default="kmeans")
    ap.add_argument("--train", default=TRAIN)
    ap.add_argument("--test", default=TEST)
    ap.add_argument("--threshold", type=float, default=None,
                    help="decision threshold (reference uses 0.5 on CV, 0.01 on the shifted test set)")
    args = ap.parse_args()

    cfg = NslConfig(rf_trees=40, rf_depth=10, kmeans_k=4) if args.fast else NslConfig()
    if args.threshold is not None:
        cfg.threshold = args.threshold
    spark = get_session(app_name=f"nsl-{args.flow}")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    if args.flow == "kmeans":
        out = kmeans_rf(spark, args.train, args.test, cfg)
        reports = {"kmeans_rf": out["metrics"]}
    elif args.flow == "gm":
        out = gaussian_rf(spark, args.train, args.test, cfg)
        reports = {"gaussian_rf": out["metrics"]}
    elif args.flow == "category":
        # M16 parity vs README.md:2332-2341 (DoS), 2693-2702 (Probe),
        # 3043-3052 (R2L&U2R): the reference reports each specialist
        # on the test rows belonging to {normal, category} at e=0.5 —
        # metrics_subset is that slice; the full-test labels2 view is
        # reported alongside
        from nsl_kdd_spark.pipeline import category_rf

        reports = {}
        for cat in ("DoS", "Probe", "R2L_U2R"):
            out = category_rf(spark, args.train, args.test, cat, cfg)
            reports[f"{cat}_vs_normal"] = out["metrics_subset"]
            reports[f"{cat}_fulltest"] = out["metrics"]
    else:
        out = nsl_ensemble(spark, args.train, args.test, cfg)
        reports = out["metrics"]

    print(f"\n=== {args.flow} ({time.perf_counter() - t0:.1f}s) ===")
    for name, mdf in reports.items():
        m = mdf.first()
        print(
            f"{name:12s} DR={m['detection_rate']:.4f} "
            f"FAR={m['false_alarm_rate']:.4f} "
            f"ACC={m['accuracy']:.4f} F1={m['f1']:.4f} "
            f"(tp={m['tp']} fp={m['fp']} tn={m['tn']} fn={m['fn']})"
        )


if __name__ == "__main__":
    main()
