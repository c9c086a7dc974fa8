"""Print a tools.PlanDump output with its run-specific ids replaced.

    python3 plans/pr11/normalize.py <dump.txt>

Expression ids, RDD ids, plan ids, object hashes, call sites, codegen ids
and query-stage ids differ between two runs of the same plan; everything
else (operators, their order, partitioning, join sides, statistics) is
kept, so two normalized dumps of the same plan are equal.
"""
import re
import sys

t = open(sys.argv[1]).read()
t = re.sub(r'#\d+L?', '#', t)
t = re.sub(r'ExistingRDD\[[^\]]*\]', 'ExistingRDD[]', t)
t = re.sub(r'(MapPartitionsRDD|ParallelCollectionRDD|SQLExecutionRDD|RDD)\[\d+\]', r'\1[]', t)
t = re.sub(r'@[0-9a-f]{5,}', '@', t)
t = re.sub(r'plan_id=\d+', 'plan_id=', t)
t = re.sub(r'\b(rdd_|RDD )\d+', r'\1', t)
t = re.sub(r'subquery#?\d*', 'subquery', t)
t = re.sub(r'ReusedExchange \[[^\]]*\]', 'ReusedExchange []', t)
t = re.sub(r' at \w+\.scala:\d+', ' at <site>', t)
t = re.sub(r'codegen id : \d+', 'codegen id : N', t)
t = re.sub(r'(?m)^(\(\d+\) (ShuffleQueryStage|BroadcastQueryStage|TableCacheQueryStage|ResultQueryStage)'
           r'.*\n(Output \[\d+\]: .*\n)?Arguments: )\d+', r'\1N', t)
sys.stdout.write(t)
