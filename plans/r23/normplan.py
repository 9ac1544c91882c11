"""Compare two directories of formatted plans, ignoring run-specific noise.

Usage: python3 plans/r23/normplan.py <before_dir> <after_dir>

Warehouse paths, /tmp paths, expression ids (#123), plan ids, JVM object
hashes and lambda class numbers are normalized before comparing; every
other difference is printed as a unified diff. Exits 1 when any file
differs.
"""
import difflib
import os
import re
import sys


def norm(s):
    s = re.sub(r'graft-warehouse-local-\d+', 'graft-warehouse-APP', s)
    s = re.sub(r'#\d+L?', '#N', s)
    s = re.sub(r'plan_id=\d+', 'plan_id=N', s)
    s = re.sub(r'file:/tmp/[^\s,\]]*', 'file:/PATH', s)
    s = re.sub(r'/tmp/[^\s,\]]*', '/PATH', s)
    s = re.sub(r'@[0-9a-f]{5,8}\b', '@H', s)
    s = re.sub(r'0x[0-9a-f]+', '0xH', s)
    s = re.sub(r'\$\$Lambda\$\d+', '$$Lambda$N', s)
    return s


def main(a, b):
    differing = 0
    for f in sorted(n for n in os.listdir(a) if n.endswith('.txt')):
        with open(os.path.join(a, f)) as fa, open(os.path.join(b, f)) as fb:
            x, y = norm(fa.read()), norm(fb.read())
        if x == y:
            print(f"same {f}")
        else:
            differing += 1
            print(f"DIFF {f}")
            sys.stdout.writelines(difflib.unified_diff(
                x.splitlines(True), y.splitlines(True)))
    print(f"differing: {differing}")
    return 1 if differing else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv[1], sys.argv[2]))
