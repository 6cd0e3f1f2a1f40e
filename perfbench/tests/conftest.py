import os
import sys

# the benchmark imports the program and tests/oracle_harness.py from the repository root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
