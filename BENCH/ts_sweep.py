import os, sys, shutil, uuid
sys.path.insert(0, "/root/repo")
import pandas as pd
from pyspark.sql import SparkSession
from image_report_spark.config import EngineConfig
from image_report_spark.engine import CdcEngine
from image_report_spark.fixtures import ChangeLogGenerator

spark = (
    SparkSession.builder.master("local[8]")
    .appName("ts-sweep")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "6g")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
root = f"/dev/shm/irs-sweep-{uuid.uuid4().hex[:6]}"
os.makedirs(root, exist_ok=True)

def content(eng):
    cols = sorted(eng.read().columns)
    return (eng.read().toPandas()[cols]
            .sort_values(["conv_id", "turn_idx"], kind="stable")
            .reset_index(drop=True))

LEDGER = ["events_read","applied","deduped","superseded","quarantined",
          "rows_before","inserts","updates","deletes","rows_after"]

fails = 0
cases = []
for seed in range(10):
    cases.append((seed, dict(dup_frac=0.06, ooo_window=8, late_frac=0.12,
                             malformed_frac=0.02, evolve=(seed % 3 == 0),
                             hot_keys=2 if seed % 2 else 0,
                             hot_frac=0.2 if seed % 2 else 0.0), {}))
cases.append((100, dict(dup_frac=0.05, late_frac=0.1), dict(grouped_resolve=True)))
cases.append((101, dict(dup_frac=0.05, late_frac=0.1), dict(update_missing="quarantine")))

for seed, genkw, cfgkw in cases:
    gen = ChangeLogGenerator(seed=seed, n_convs=70, max_turns=7, n_batches=5, **genkw)
    log = os.path.join(root, f"log{seed}")
    gen.write_log(log)
    engs = {}
    reps = {}
    for name, ts in (("on", True), ("off", False)):
        e = CdcEngine.init(
            spark, os.path.join(root, f"t{seed}{name}"), os.path.join(root, f"c{seed}{name}"),
            config=EngineConfig(num_buckets=8, shuffle_partitions=8,
                                cow_two_stream=ts,
                                cow_two_stream_min_ratio=0.0,
                                cow_two_stream_max_files=3,
                                hot_key_threshold=40, **cfgkw),
        )
        reps[name] = e.run(log)
        engs[name] = e
    ok = True
    if engs["on"].current_table_digest() != engs["off"].current_table_digest():
        ok = False; print(f"seed {seed}: DIGEST MISMATCH")
    try:
        pd.testing.assert_frame_equal(content(engs["on"]), content(engs["off"]))
    except AssertionError as ex:
        ok = False; print(f"seed {seed}: CONTENT MISMATCH: {ex}")
    for ra, rb in zip(reps["on"], reps["off"]):
        for k in LEDGER:
            if getattr(ra, k) != getattr(rb, k):
                ok = False; print(f"seed {seed} b{ra.batch_id}: ledger {k} {getattr(ra,k)} != {getattr(rb,k)}")
    if not all(r.conservation_ok() for r in reps["on"]):
        ok = False; print(f"seed {seed}: conservation broken (ts on)")
    nts = sum(r.partitions_two_stream for r in reps["on"])
    napp = sum(r.partitions_appended for r in reps["on"])
    ncar = sum(r.partitions_carried for r in reps["on"])
    print(f"seed {seed} cfg={cfgkw}: {'OK' if ok else 'FAIL'} ts={nts} app={napp} carried={ncar}", flush=True)
    fails += 0 if ok else 1
    for d in (f"t{seed}on", f"t{seed}off", f"c{seed}on", f"c{seed}off", f"log{seed}"):
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)

print("FAILURES:", fails)
shutil.rmtree(root, ignore_errors=True)
spark.stop()
sys.exit(1 if fails else 0)
