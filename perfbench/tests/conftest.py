import os
import sys

# the tests import the benchmark as the ``perfbench`` package from the repo root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
