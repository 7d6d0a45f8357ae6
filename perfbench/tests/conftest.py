import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)

# the benchmark's modules import each other by bare name, as they do
# when run.py runs from its own directory
for p in (ROOT, BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)
