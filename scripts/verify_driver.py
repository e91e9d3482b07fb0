"""Verify driver: synthesize t1 fixture -> CdcEngine.replay -> RESULT line.

``state_crc`` hashes repo|path|content_sha256; ``row_crc`` every column
of the converged rows (``oracle.row_crc``)."""
import os, sys
from pyspark.sql import SparkSession, functions as F

state_root = sys.argv[1]
epochs = None
if len(sys.argv) > 2:
    epochs = [int(x) for x in sys.argv[2].split(",")]

spark = SparkSession.builder.getOrCreate()
spark.sparkContext.setLogLevel("WARN")

from cdc_core_spark import synth
from cdc_core_spark.engine import CdcEngine
from cdc_core_spark.registry import SchemaRegistry

fx = synth.ensure_fixture("/tmp/v/fixtures", "t1")  # fingerprinted cache

reg = SchemaRegistry.from_docs(synth.registry_docs())
eng = CdcEngine(spark, state_root, reg, n_buckets=16)
src = spark.read.parquet(os.path.join(fx, "source_repos.parquet"))
eng.replay(os.path.join(fx, "change_events"), source_df=src, epochs=epochs)

final = eng.read_final_with_sha()
rows = final.count()
from cdc_core_spark.oracle import row_crc, state_crc
crc = state_crc(final)
rcrc = row_crc(eng.read_final())
lang_col = "language" if "language" in final.columns else "lang"
langs = final.select(lang_col).distinct().count()
max_rev = final.selectExpr("max(rev) AS m").first()["m"]
mf = eng.manifests_df()
manifest_rows = mf.count()
errors = mf.selectExpr("sum(events_error) AS e").first()["e"]
eps = sorted(eng.table.committed_epochs())
# contiguous -> compact [a..b]; gaps or empty -> explicit list (a gap must
# never masquerade as a full range)
if eps and eps == list(range(eps[0], eps[-1] + 1)):
    eps_str = f"[{eps[0]}..{eps[-1]}]"
else:
    eps_str = str(eps)
ver = eng.table.latest().props["schema_version"]
print(f"RESULT rows={rows} state_crc={crc} row_crc={rcrc} langs={langs} "
      f"max_rev={max_rev} "
      f"manifest_rows={manifest_rows} errors={errors} "
      f"epochs_committed={eps_str} schema_version={ver}")
spark.stop()
