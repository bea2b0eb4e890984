#!/bin/sh
# Full test suite in two concurrent pytest processes.
#
# pytest-xdist is not a dependency, so the split is two plain pytest
# processes, each with its own SparkSession on local[N]. Each half
# defaults to half the host's cores (nproc, with OMP_NUM_THREADS unset as
# in the Tier-1 command, at least 1); SPARK_GRAFT_SUITE_CPUS overrides N
# for both halves. The split is by test FILE, balanced so each half
# carries roughly half of the availableNow streaming replays; coverage is
# identical to the serial suite — same files, same tests, nothing sampled.
#
# Cross-process safety:
#   * all test data dirs are tmp_path / mkdtemp scoped;
#   * the embedded-Derby JDBC test and the catalog (spark-warehouse)
#     tests all live in test_sources.py, so only one process touches
#     the shared cwd state;
#   * .pytest_cache is disabled (-p no:cacheprovider) to avoid the one
#     genuinely shared write.
#
# The wall time is set by the larger half: test_streaming and the
# adversarial replay sweeps cannot be split below file granularity.
set -e
cd "$(dirname "$0")"

if [ -z "${SPARK_GRAFT_SUITE_CPUS:-}" ]; then
    host_cpus=$(env -u OMP_NUM_THREADS nproc)
    SPARK_GRAFT_SUITE_CPUS=$((host_cpus / 2))
    [ "$SPARK_GRAFT_SUITE_CPUS" -ge 1 ] || SPARK_GRAFT_SUITE_CPUS=1
fi

# Fail loudly if a test file exists that neither half runs — an explicit
# file list must never silently shrink coverage as the suite grows.
listed="test_plans test_operators test_oracle_parity test_oracle_check \
test_properties \
test_registry test_sources test_curation test_unicode_semantics \
test_time_semantics test_totality test_streaming test_null_semantics \
test_extreme_semantics test_tz_semantics test_layout_invariance"
for f in tests/test_*.py; do
    base=$(basename "$f" .py)
    case " $listed " in
        *" $base "*) ;;
        *) echo "ERROR: $f is not assigned to either suite half" >&2; exit 2 ;;
    esac
done

# Per-invocation log paths: fixed names let two concurrent runs (or two
# users on a shared host) clobber each other's logs and mis-tail the
# summary.  No suffix after the X's: that form is a GNU coreutils
# extension, and under busybox/minimal mktemp this #!/bin/sh script would
# die at startup via set -e.
LOG_A="$(mktemp /tmp/fdi_suite_half_a.XXXXXX)"
LOG_B="$(mktemp /tmp/fdi_suite_half_b.XXXXXX)"
echo "half A -> $LOG_A"
echo "half B -> $LOG_B"

SPARK_GRAFT_CPUS="$SPARK_GRAFT_SUITE_CPUS" python -m pytest \
    tests/test_plans.py tests/test_operators.py tests/test_oracle_parity.py \
    tests/test_properties.py tests/test_registry.py tests/test_sources.py \
    tests/test_curation.py tests/test_unicode_semantics.py \
    tests/test_time_semantics.py tests/test_totality.py \
    -q -p no:cacheprovider > "$LOG_A" 2>&1 &
pa=$!
SPARK_GRAFT_CPUS="$SPARK_GRAFT_SUITE_CPUS" python -m pytest \
    tests/test_streaming.py tests/test_null_semantics.py \
    tests/test_extreme_semantics.py tests/test_tz_semantics.py \
    tests/test_layout_invariance.py tests/test_oracle_check.py \
    -q -p no:cacheprovider > "$LOG_B" 2>&1 &
pb=$!

ra=0; rb=0
wait "$pa" || ra=$?
wait "$pb" || rb=$?
echo "--- half A (tail) ---"; tail -n 2 "$LOG_A"
echo "--- half B (tail) ---"; tail -n 2 "$LOG_B"
if [ "$ra" -eq 0 ] && [ "$rb" -eq 0 ]; then
    # Passing runs clean up their logs (mktemp names would otherwise
    # accumulate in /tmp forever); failing runs keep them for diagnosis.
    rm -f "$LOG_A" "$LOG_B"
    exit 0
fi
echo "FAILED — logs kept: $LOG_A $LOG_B" >&2
exit 1
