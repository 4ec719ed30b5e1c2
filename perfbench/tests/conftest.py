import os
import sys

# the helpers import as ``perfbench.*`` and the package under test from
# the checkout root, as they do when perfbench/run.py runs
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
