"""Pin the anonymization quality the ``anonymize`` workload checks.

    python3 perfbench/pin_losses.py

Runs ``run_kp_anonymity`` once on each of the ``N_INPUTS`` inputs the
``anonymize`` workload can build and writes their value and pattern
losses to ``expected_losses.json`` in this directory. Every benchmark op
must reproduce them, so a change that trades anonymization quality for
speed fails its ops. Re-pin only when the workload's input or arguments
change, on code whose quality is the reference. Run it from the
repository root; it writes its scratch data under ``perfbench/_work``.
"""

from __future__ import annotations

import json
import shutil
import sys

import harness as H
import run as R


def main() -> int:
    sys.path.insert(0, str(R.ROOT))
    run_dir = R.WORK / "pin"
    R.prepare_env(run_dir)

    from kapra_spark.plans.anonymize_plan import run_kp_anonymity

    b = R.Bench("anonymize", 0, 0, False, run_dir)
    losses = {}
    try:
        b.start_session()
        for seed in range(R.N_INPUTS):
            tokens = R.build_tokens(b.spark, R.ANON_SERIES, seed,
                                    run_dir / "input")
            b.spark.catalog.clearCache()
            row = run_kp_anonymity(b.spark, "kapra", R.K, R.P, R.PAA, R.L,
                                   tokens)
            losses[str(seed)] = {k: row[k] for k in H.LOSS_KEYS}
            R.log(f"input {seed}: {losses[str(seed)]}")
    finally:
        b.close()
    shutil.rmtree(run_dir)
    R.EXPECTED_LOSSES.write_text(json.dumps(
        {"params": R.anonymize_params(), "losses": losses}, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
