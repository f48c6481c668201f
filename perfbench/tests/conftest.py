import os
import sys

# the repository root, so ``import perfbench`` works under any runner
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
