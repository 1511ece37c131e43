"""Strip run-specific ids and paths from ServePlanDump output.

Usage: normplans.py <dumpDir> <outDir> <workDir>
"""
import re, sys, os
src, dst, work = sys.argv[1], sys.argv[2], sys.argv[3].rstrip('/')
os.makedirs(dst, exist_ok=True)
for f in sorted(os.listdir(src)):
    t = open(os.path.join(src, f)).read()
    t = re.sub(r'\[plan_id=\d+\]', '[plan_id=]', t)
    t = re.sub(r'\b(lambda \w+?)_\d+#', r'\1#', t)
    t = t.replace(work, '<work>')
    t = re.sub(r'part-\d+-[0-9a-f-]+(\.c\d+\.snappy\.parquet)?(\.\.\.)?', 'part-*', t)
    open(os.path.join(dst, f), 'w').write(t)
