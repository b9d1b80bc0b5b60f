#!/bin/bash
# Scale sweep driver: one JVM per family (so one family's cache pressure
# can't evict another's mid-measurement — the qad-at-sf1 artifact from the
# round-8 notes), TimeOne with 3 reps (rep1 = cold incl. shared-cache
# builds, reps 2-3 = warm steady state; two warm chances so a single
# GC-pressure spike can't masquerade as the steady state). Rep-inversion
# handling (warm > cold from accumulated same-JVM state at the 100×
# fixtures) lives in tools/assemble_scale.py: min-of-reps + an explicit
# "inverted" flag in the artifact, never silent.
#
# Shuffle codec POLICY (round 13, closing the round-12 env-gate): scale
# runs use zstd, dev runs keep Spark's lz4 default. Rationale: the
# capacity probes at the 50M-doc fixture write ~30 GB of near-random
# 64-bit hashes as one shuffle; zstd is ~25% smaller on exactly that
# shape for a few % CPU, and the probes at those fixtures are
# disk-capacity-bound, not CPU-bound — the standard big-cluster trade.
# Dev/bench runs at sf0.1 are CPU-bound with tiny shuffles, so lz4 stays
# their default. The codec is one SPARK_GRAFT_EXTRA_CONF entry, prepended
# to any entries the caller exports; a caller entry for the same key comes
# later and wins, so a probe can isolate the codec variable with e.g.
# SPARK_GRAFT_EXTRA_CONF="spark.io.compression.codec=lz4".
#
# Usage: tools/run_scale.sh <sfDir> <outPrefix> [fam1,fam2,...]
#   e.g. tools/run_scale.sh /tmp/sf10 /tmp/scale_sf10
#        tools/run_scale.sh /tmp/sf10p /tmp/scale_sf10p pair,grouping,er,setsim,text
#
# The `graphaxis` family runs on an explicit EDGE axis, not the sfDir:
# it synthesizes /tmp/gedges_<K>x with tools/synth_graph.py (K disjoint
# relabeled copies of the sf0.1 co-purchase graph — identical to what the
# table-replication fixtures induce, minus the hours-long pair join) and
# probes the iterative kernels through tools/GraphScale. K is chosen by
# the sfDir name so each sweep gets a matched decade: sf10* -> 100x
# (~1.5M edges), anything larger -> 1000x (~15M edges).
set -u
SF="$1"; OUT="$2"; ONLY="${3:-}"

export SPARK_GRAFT_EXTRA_CONF="spark.io.compression.codec=zstd;${SPARK_GRAFT_EXTRA_CONF:-}"

declare -A FAMS=(
  [linear]="q40,q57"
  [graph]="q88,qa7,q8j,q9n"
  [er]="q9q,qba"
  [setsim]="qad,qb2"
  [ingest]="q84,qbg,qbq"
  [ann]="q46,q47,q4a,q59,q8h,q48,qbe,qbf,qbh,qbj"
  [pair]="q42,q4c,q4b,q44,q41"
  [grouping]="q56,q8n,qbc"
  [stream]="q58,q65,q69,q9c,qbb,q9w"
  [text]="qbi,qbk,qbl,qbm"
)
ORDER="linear graph graphaxis er setsim ingest ann pair grouping stream text"

for fam in $ORDER; do
  if [ -n "$ONLY" ] && [[ ",$ONLY," != *",$fam,"* ]]; then continue; fi
  if [ "$fam" = graphaxis ]; then
    case "$(basename "$SF")" in
      sf10*) K=100 ;;
      *)     K=1000 ;;
    esac
    EDGES="/tmp/gedges_${K}x"
    if [ ! -e "$EDGES" ]; then
      python3 tools/synth_graph.py "$K" "$EDGES" || continue
    fi
    echo "=== graphaxis (${K}x edges) -> ${OUT}_graphaxis.log"
    SPARK_DRIVER_MEM=64g SPARK_GRAFT_CPUS=32 \
      sbt -batch "runMain graft.tools.GraphScale $EDGES 3" \
      > "${OUT}_graphaxis.log" 2>&1
    grep -h "\[time\]" "${OUT}_graphaxis.log" | sed 's/\[info\] //'
    continue
  fi
  echo "=== $fam (${FAMS[$fam]}) -> ${OUT}_${fam}.log"
  SPARK_DRIVER_MEM=64g SPARK_GRAFT_CPUS=32 \
    sbt -batch "runMain graft.TimeOne $SF ${FAMS[$fam]} 3" \
    > "${OUT}_${fam}.log" 2>&1
  grep -h "\[time\]" "${OUT}_${fam}.log" | sed 's/\[info\] //'
done
