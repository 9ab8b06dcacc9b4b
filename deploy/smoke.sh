#!/bin/bash
# End-to-end smoke of the container entrypoint contract WITHOUT a Docker
# daemon (the build sandbox has none): package the jar, then run exactly
# the command the image's entrypoint would run — the Floorista main under
# a Spark runtime classpath — against local-FS testdata, and assert the
# partitioned parquet dump landed. This is the FlooristaSpec floorplan
# driven through the packaged artifact instead of ScalaTest.
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch package >/dev/null
JAR=$(ls target/scala-2.13/flooristspark_2.13-*.jar | head -1)

OUT=$(mktemp -d /tmp/graft_smoke.XXXX)
# On exit, however the script ends: stop the live-Postgres leg's server if
# it started, then remove both work dirs.
PGBIN="" PGROOT=""
as_pg() { if [ "$(id -un)" = root ]; then su -s /bin/sh postgres -c "cd /tmp && $1"; else sh -c "$1"; fi; }
cleanup() {
  if [ -n "$PGROOT" ] && [ -f "$PGROOT/data/postmaster.pid" ]; then
    as_pg "$PGBIN/pg_ctl -D $PGROOT/data -m immediate stop" >/dev/null 2>&1 || true
  fi
  rm -rf "$OUT" ${PGROOT:+"$PGROOT"}
}
trap cleanup EXIT
FP=$OUT/floorplan.yaml
cat > "$FP" <<'YAML'
- prefix: dumps/nations
  query: SELECT n_nationkey, n_name FROM nation
- prefix: dumps/series
  query: SELECT GENERATE_SERIES(0,99)
  chunksize: 40
YAML

# The entrypoint runs spark-submit; outside the image the equivalent is
# java with the Spark jars on the classpath and the JDK17 module opens
# (what spark-submit injects). Same class, same env contract.
ADD_OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"

mkdir -p "$OUT/bucket"   # the bucket must pre-exist (no-such-bucket aborts, by contract)
AWS_BUCKET="file://$OUT/bucket" \
FLOORPLAN_FILE="$FP" \
GRAFT_TABLE_DIR="/root/testdata/sf0.001" \
GRAFT_FILE_CONTRACT=exact \
LOGLEVEL=warning \
java $ADD_OPENS -Dspark.ui.enabled=false \
  -cp "$JAR:/opt/spark/jars/*" graft.core.Floorista

echo "--- dumped files:"
find "$OUT/bucket" -name '*.parquet' | sort
N=$(find "$OUT/bucket" -name '*.parquet' | wc -l)
# nations = 1 chunk file; series = 100 rows / chunksize 40 = 3 files
[ "$N" -ge 4 ] || { echo "SMOKE FAIL: expected >=4 parquet files, got $N"; exit 1; }
find "$OUT/bucket" -path '*year_created=*' -name '*.parquet' >/dev/null || { echo "SMOKE FAIL: no dated partition layout"; exit 1; }
echo "SMOKE OK ($N parquet files under dated partitions)"

# ---- default-contract leg: no GRAFT_FILE_CONTRACT, so the Scalable
# contract spreads the single-split series dump across all cores. The
# per-dump JSON records (logged at INFO) must name each dump's outcome. ----
FP3=$OUT/floorplan_default.yaml
cat > "$FP3" <<'YAML'
- prefix: dumps/series
  query: SELECT GENERATE_SERIES(0,99)
  chunksize: 40
- prefix: dumps/none
  query: SELECT WHERE 1=0
YAML
mkdir -p "$OUT/bucket3"
# The Spark jars the build compiles against (build.sbt's unmanagedBase).
SPARK_JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' build.sbt)
AWS_BUCKET="file://$OUT/bucket3" \
FLOORPLAN_FILE="$FP3" \
LOGLEVEL=info \
java $ADD_OPENS -Dspark.ui.enabled=false \
  -cp "$JAR:$SPARK_JARS/*" graft.core.Floorista > "$OUT/default.log" 2>&1 \
  || { tail -40 "$OUT/default.log"; echo "SMOKE FAIL: default-contract run exited non-zero"; exit 1; }

ls -d "$OUT"/bucket3/dumps/series/year_created=*/month_created=*/day_created=* >/dev/null 2>&1 \
  || { echo "SMOKE FAIL: default-contract series dump has no dated layout"; exit 1; }
NONE_DIR=$(ls -d "$OUT"/bucket3/dumps/none/year_created=*/month_created=*/day_created=* 2>/dev/null || true)
[ -n "$NONE_DIR" ] && [ -z "$(ls -A "$NONE_DIR")" ] \
  || { echo "SMOKE FAIL: empty dump did not leave a bare folder marker"; exit 1; }
python3 - "$OUT/default.log" <<'PY'
import json, sys
recs = [json.loads(line[line.index('{"record"'):]) for line in open(sys.argv[1]) if '{"record"' in line]
dumps = {r["prefix"]: r for r in recs if r["record"] == "dump"}
series, none = dumps["dumps/series"], dumps["dumps/none"]
assert series["outcome"] == "written" and series["rows"] == 100, series
assert none["outcome"] == "empty" and none["rows"] == 0, none
totals = [r for r in recs if r["record"] == "totals"]
assert len(totals) == 1 and totals[0]["dumps"] == 2 and totals[0]["rows"] == 100, totals
print("dump records:", json.dumps(series), json.dumps(none), sep="\n  ")
PY
# Local roots are written through graft.sink.ForkFreeLocalFileSystem, named
# in the write job's Hadoop conf and loaded from the packaged jar: the modes
# must be Hadoop's defaults under umask 022.
SERIES_DIR=$(ls -d "$OUT"/bucket3/dumps/series/year_created=*/month_created=*/day_created=*)
[ "$(stat -c %A "$SERIES_DIR")" = drwxr-xr-x ] \
  || { echo "SMOKE FAIL: $SERIES_DIR has mode $(stat -c %A "$SERIES_DIR"), not drwxr-xr-x"; exit 1; }
for f in "$SERIES_DIR"/part-*; do
  [ "$(stat -c %A "$f")" = -rw-r--r-- ] \
    || { echo "SMOKE FAIL: $f has mode $(stat -c %A "$f"), not -rw-r--r--"; exit 1; }
done
echo "SMOKE OK (default contract: dated layout, written 100 rows, empty marker, rw-r--r-- parts)"

# ---- optional leg: live PostgreSQL through the reference's env contract ----
# The reference's only source is Postgres (POSTGRES_SERVICE_HOST etc.,
# config.py:25-58). When the host has server binaries (this sandbox ships
# PostgreSQL 15 but no pgjdbc jar — the packaged engine falls back to the
# in-repo pgwire driver), spin a throwaway instance and drive the SAME
# packaged entrypoint in JDBC mode: floorplan SQL runs ON Postgres, every
# attempt inside a pinned exported snapshot, uuid decoding to STRING.
for d in /usr/lib/postgresql/15/bin /usr/lib/postgresql/16/bin /usr/lib/postgresql/14/bin; do
  [ -x "$d/initdb" ] && PGBIN=$d && break
done
if [ -z "$PGBIN" ] || ! id postgres >/dev/null 2>&1; then
  echo "SMOKE OK (live-Postgres leg skipped: no server binaries/user on this host)"
  exit 0
fi

PGROOT=$(mktemp -d /tmp/graft_smoke_pg.XXXX)
chown -R postgres:postgres "$PGROOT" 2>/dev/null || true
PGPORT=$(python3 - <<'PY'
import socket; s=socket.socket(); s.bind(("127.0.0.1",0)); print(s.getsockname()[1]); s.close()
PY
)
as_pg "$PGBIN/initdb -D $PGROOT/data --auth=trust --auth-host=trust -U graft -E UTF8" >/dev/null
as_pg "$PGBIN/pg_ctl -D $PGROOT/data -w -t 30 -l $PGROOT/log -o \"-p $PGPORT -k $PGROOT -c listen_addresses=127.0.0.1 -c fsync=off\" start" >/dev/null

psql -h 127.0.0.1 -p "$PGPORT" -U graft -d postgres -q <<'SQL'
CREATE TABLE hosts (id uuid PRIMARY KEY, account int4, display_name text);
INSERT INTO hosts
SELECT md5('h' || i)::uuid, i % 5, 'host_' || i FROM generate_series(1, 230) i;
SQL

FP2=$PGROOT/floorplan.yaml
cat > "$FP2" <<'YAML'
- prefix: pgdumps/hosts
  query: SELECT id, account, display_name FROM hosts
  chunksize: 100
- prefix: pgdumps/none
  query: SELECT id FROM hosts WHERE account = 99
YAML

mkdir -p "$OUT/bucket2"
AWS_BUCKET="file://$OUT/bucket2" \
FLOORPLAN_FILE="$FP2" \
POSTGRES_SERVICE_HOST=127.0.0.1 \
POSTGRES_SERVICE_PORT="$PGPORT" \
POSTGRESQL_DATABASE=postgres \
POSTGRESQL_USER=graft \
POSTGRESQL_PASSWORD=trust-ignored \
GRAFT_FILE_CONTRACT=exact \
LOGLEVEL=warning \
java $ADD_OPENS -Dspark.ui.enabled=false \
  -cp "$JAR:/opt/spark/jars/*" graft.core.Floorista

echo "--- live-PG dumped files:"
find "$OUT/bucket2" -name '*.parquet' | sort
NPG=$(find "$OUT/bucket2" -path '*pgdumps/hosts*' -name '*.parquet' | wc -l)
# 230 rows / chunksize 100 = 3 exact chunks
[ "$NPG" -eq 3 ] || { echo "SMOKE FAIL: expected 3 pg chunk files, got $NPG"; exit 1; }
find "$OUT/bucket2" -path '*pgdumps/none*' -type d | grep -q . || { echo "SMOKE FAIL: empty-dump marker missing"; exit 1; }
python3 - "$OUT/bucket2" <<'PY'
import sys, glob, pyarrow.parquet as pq
files = glob.glob(sys.argv[1] + "/pgdumps/hosts/**/*.parquet", recursive=True)
t = pq.read_table(files[0])
assert str(t.schema.field("id").type) == "string", t.schema
v = t.column("id")[0].as_py()
assert len(v) == 36 and v.count("-") == 4, v
print("uuid column decoded as string:", v)
PY
echo "SMOKE OK (live-Postgres leg: 3 exact chunks + empty marker + uuid->string)"
