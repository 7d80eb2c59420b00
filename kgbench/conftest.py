import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's modules import each other by name, as run.py does
for path in (os.path.dirname(HERE), HERE):
    if path not in sys.path:
        sys.path.insert(0, path)
