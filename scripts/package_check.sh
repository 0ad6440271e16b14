#!/bin/bash
# spark-submit --py-files packaging check (SURVEY.md §7.1 M5): zip the
# package, generate a tiny input, run the pipeline through spark-submit
# exactly as a cluster deployment would, and assert the run summary.
set -euo pipefail
cd "$(dirname "$0")/.."

WORK=$(mktemp -d)
trap 'rm -rf "$WORK"' EXIT

rm -f "$WORK/das.zip"
zip -qr "$WORK/das.zip" docling_api_spark

python - <<EOF
import sys; sys.path.insert(0, ".")
from docling_api_spark.session import get_spark
from docling_api_spark.gen import transcripts_df
s = get_spark(app_name="pkg-gen", master="local[4]")
transcripts_df(s, 50, partitions=4).write.mode("overwrite").parquet("$WORK/in")
s.stop()
EOF

OUT=$(spark-submit --master 'local[4]' --py-files "$WORK/das.zip" \
      docling_api_spark/cli.py run --input "$WORK/in" --output "$WORK/out" \
      2>/dev/null | tail -1)
echo "$OUT"
python - <<EOF
import json
import pathlib
s = json.loads('''$OUT''')
assert s["rows"] > 0 and s["buckets"], s
# lineage is one file per run, named by its run id
lineage = [p.name for p in pathlib.Path("$WORK/out/lineage").iterdir()]
assert lineage == [f"part-{s['run_id']}.parquet"], lineage
# each write task puts its file straight into the run dir: no bucket dirs
run_dir = pathlib.Path("$WORK/out/data") / f"run_id={s['run_id']}"
assert list(run_dir.glob("*.parquet")), sorted(run_dir.iterdir())
assert not list(run_dir.glob("bucket=*")), sorted(run_dir.iterdir())
print("package check OK:", s["rows"], "rows,", len(s["buckets"]), "buckets")
EOF

# status and compact --vacuum ship through the same zip: one status row
# per bucket holding rows (50 conversations fill 38 of the 64 buckets)
STATUS=$(spark-submit --master 'local[4]' --py-files "$WORK/das.zip" \
      docling_api_spark/cli.py status --output "$WORK/out" 2>/dev/null)
COMPACT=$(spark-submit --master 'local[4]' --py-files "$WORK/das.zip" \
      docling_api_spark/cli.py compact --output "$WORK/out" --vacuum \
      2>/dev/null | tail -1)
echo "$COMPACT"
python - <<EOF
import json
s, c = json.loads('''$OUT'''), json.loads('''$COMPACT''')
header, *rows = [[f.strip() for f in line.strip("|").split("|")]
                 for line in '''$STATUS'''.splitlines() if line.startswith("|")]
rows = [dict(zip(header, r)) for r in rows]
assert len({r["partition_id"] for r in rows}) == len(rows) == 38, rows
assert sum(int(r["rows_out"]) for r in rows) == s["rows"], rows
assert c["rows"] == s["rows"] and c["vacuumed"] == [f"run_id={s['run_id']}"], c
print("maintenance package check OK:", len(rows), "status rows,", c)
EOF

# status and compact on a fresh output dir (no run yet, so no lineage
# and nothing committed) exit 0: status shows no data rows, compact
# reserves no run id and reports it as null
mkdir "$WORK/fresh"
FRESH=$(spark-submit --master 'local[4]' --py-files "$WORK/das.zip" \
      docling_api_spark/cli.py status --output "$WORK/fresh" 2>/dev/null)
FRESH_COMPACT=$(spark-submit --master 'local[4]' --py-files "$WORK/das.zip" \
      docling_api_spark/cli.py compact --output "$WORK/fresh" 2>/dev/null | tail -1)
python - <<EOF
import json
header, *rows = [line for line in '''$FRESH'''.splitlines()
                 if line.startswith("|")]
assert "partition_id" in header and rows == [], '''$FRESH'''
c = json.loads('''$FRESH_COMPACT''')
assert c == {"run_id": None, "rows": 0, "buckets": []}, c
print("fresh status/compact package check OK: no rows,", c)
EOF

# the corpus surface ships through the same zip (exercises the operator
# and plan layers: extract/quality/dedup/graph/decontam/split/chunk/pack)
python - <<EOF
import sys; sys.path.insert(0, ".")
from docling_api_spark.session import get_spark
s = get_spark(app_name="pkg-docs", master="local[4]")
d = s.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
docs = d.filter("doc_id % 10 <> 8")
docs.write.mode("overwrite").parquet("$WORK/docs")
d.filter("doc_id % 10 = 8").write.mode("overwrite").parquet("$WORK/eval")
# the docs plus byte-identical copies of a few of them under new ids
copies = docs.filter("doc_id < 30").selectExpr("doc_id + 1000000 AS doc_id", "text")
docs.unionByName(copies).write.mode("overwrite").parquet("$WORK/docs_dup")
s.stop()
EOF
# each build commits annotated/, examples/ and funnel.json as one version
# that INDEX.json names; a rebuild commits the next version and keeps the
# previous one readable
CORPUS () {
    spark-submit --master 'local[4]' --py-files "$WORK/das.zip" \
        docling_api_spark/cli.py corpus --input "$WORK/docs" --eval "$WORK/eval" \
        --output "$WORK/corpus" --ctx-len 128 --stride 96 --near-threshold 0.4 \
        2>/dev/null | tail -1
}
FUNNEL=$(CORPUS)
echo "$FUNNEL"
python - <<EOF
import json
f = json.loads('''$FUNNEL''')
assert f["n_input"] >= f["n_extracted"] >= f["n_quality"] >= f["n_kept"] > 0, f
assert f["n_kept"] == f["n_train"] + f["n_val"] + f["n_test"], f
index = json.load(open("$WORK/corpus/INDEX.json"))
assert index == {"version": 0}, index
assert json.load(open("$WORK/corpus/v0000/funnel.json")) == f
print("corpus package check OK:", f["n_kept"], "kept,", f["n_chunks"], "chunks")
EOF
FUNNEL2=$(CORPUS)
python - <<EOF
import json
import pyarrow.parquet as pq
f, f2 = json.loads('''$FUNNEL'''), json.loads('''$FUNNEL2''')
index = json.load(open("$WORK/corpus/INDEX.json"))
assert index == {"version": 1}, index
assert f2 == f and json.load(open("$WORK/corpus/v0001/funnel.json")) == f, f2
v0 = "$WORK/corpus/v0000"
assert pq.read_table(f"{v0}/annotated").num_rows == f["n_input"]
assert pq.read_table(f"{v0}/examples").num_rows == f["n_chunks"]
print("corpus rebuild package check OK: version 1 committed, version 0 readable")
EOF

# the dedup index ships through the same zip: the first run commits one
# row per distinct content; a rerun commits nothing and reports each
# extra byte-identical copy as one exact match (no NULL text in docs;
# docs_dup adds such copies under new ids, so there are matches to count)
DEDUP_INDEX () {
    spark-submit --master 'local[4]' --py-files "$WORK/das.zip" \
        docling_api_spark/cli.py dedup-index --input "$WORK/docs_dup" \
        --index "$WORK/sigidx" 2>/dev/null | tail -1
}
D1=$(DEDUP_INDEX); cp "$WORK/sigidx/INDEX.json" "$WORK/sigidx_v0.json"
D2=$(DEDUP_INDEX); echo "$D1"; echo "$D2"
# the no-op rerun leaves the committed pointer byte-identical
cmp "$WORK/sigidx_v0.json" "$WORK/sigidx/INDEX.json"
python - <<EOF
import json
d1, d2 = json.loads('''$D1'''), json.loads('''$D2''')
assert d1["committed"] and d1["index_version"] == 0, d1
assert d1["index_rows"] == d1["n_input_distinct"], d1
assert d2["committed"] is False and d2["n_added"] == 0, d2
assert d2["n_ids_reused"] == 0, d2
assert d2["matches"]["exact"] == d2["n_input"] - d2["n_input_distinct"] > 0, d2
print("dedup-index package check OK:", d1["index_rows"], "index rows")
EOF

# the corpus card ships through the same zip: the published report is
# byte-identical to the printed one, and its card fields equal the
# registry's corpus_profile row (the DuckDB-checked projection of it)
spark-submit --master 'local[4]' --py-files "$WORK/das.zip" \
    docling_api_spark/cli.py report \
    --input /root/testdata/sf0.001/documents.parquet \
    --output "$WORK/report.json" 2>/dev/null | tail -1 > "$WORK/report.out"
cat "$WORK/report.out"
python - <<EOF
import json
import sys; sys.path.insert(0, ".")
printed = open("$WORK/report.out").read()
assert open("$WORK/report.json").read() + "\n" == printed, printed
r = json.loads(printed)
import __spark_entry__ as entry
from docling_api_spark.session import get_spark
s = get_spark(app_name="pkg-report", master="local[4]")
row = entry.corpus_profile(s, "/root/testdata/sf0.001").first().asDict()
s.stop()
assert row.pop("n_docs_en") == r["lang_dist"].get("en", 0), (row, r)
assert row.pop("n_langs") == len(r["lang_dist"]), (row, r)
assert row == {k: r[k] for k in row}, (row, r)
print("report package check OK:", r["n_docs"], "docs,", len(row) + 2,
      "fields equal the registry row")
EOF

# the streaming curation gate ships through the same zip: an
# AvailableNow micro-run in three spark-submit invocations — wave A
# split into 2 micro-batches (max-files-per-trigger=1), wave B landed
# and drained by a SECOND invocation on the same checkpoint (only the
# new files are read), then a THIRD invocation with nothing new, which
# must add zero batches. exactly_once is asserted by the CLI itself
# (kept rows on disk == the funnel's kept total) and re-checked here.
python - <<EOF
import sys; sys.path.insert(0, ".")
from pyspark.sql import functions as F
from docling_api_spark.session import get_spark
s = get_spark(app_name="pkg-stream-gen", master="local[4]")
d = s.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
d.withColumn("label", F.when(F.col("doc_id") % 3 != 0, "good").otherwise("junk")) \
    .write.mode("overwrite").parquet("$WORK/gate_seed")
d.filter("doc_id < 200").repartition(2).write.mode("overwrite").parquet("$WORK/gate_in")
s.stop()
EOF
GATE () {
    spark-submit --master 'local[4]' --py-files "$WORK/das.zip" \
        docling_api_spark/cli.py gate-stream --input "$WORK/gate_in" \
        --output "$WORK/gate_out" --checkpoint "$WORK/gate_ckpt" \
        --seed "$WORK/gate_seed" --max-files-per-trigger 1 2>/dev/null | tail -1
}
G1=$(GATE); echo "$G1"
python - <<EOF
import sys; sys.path.insert(0, ".")
from docling_api_spark.session import get_spark
s = get_spark(app_name="pkg-stream-gen2", master="local[4]")
d = s.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
d.filter("doc_id >= 200 AND doc_id < 320").coalesce(1).write.mode("append").parquet("$WORK/gate_in")
s.stop()
EOF
G2=$(GATE); echo "$G2"
G3=$(GATE); echo "$G3"
python - <<EOF
import json
g1, g2, g3 = json.loads('''$G1'''), json.loads('''$G2'''), json.loads('''$G3''')
assert g1["n_batches"] >= 2 and g1["n_kept"] > 0 and g1["exactly_once"], g1
assert g2["n_batches"] > g1["n_batches"] and g2["n_in"] > g1["n_in"], (g1, g2)
assert g2["exactly_once"], g2
assert g3["n_batches"] == g2["n_batches"] and g3["n_in"] == g2["n_in"], (g2, g3)
assert g3["exactly_once"], g3
print("streaming gate package check OK:", g2["n_batches"], "batches,",
      g2["n_kept"], "kept, exactly-once held across 3 invocations")
EOF

# DSIR selection ships through the same zip (classifier + Gumbel-top-k)
SEL=$(spark-submit --master 'local[4]' --py-files "$WORK/das.zip" \
      docling_api_spark/cli.py select --input "$WORK/docs" \
      --target "$WORK/eval" --raw "$WORK/docs" -k 50 \
      --output "$WORK/selected" 2>/dev/null | tail -1)
echo "$SEL"
python - <<EOF
import json
s = json.loads('''$SEL''')
assert s["selected"] == 50, s
print("select package check OK:", s["selected"], "selected")
EOF
