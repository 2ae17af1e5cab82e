import os
import sys

# the benchmark runs from the repository root; so do its tests
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
