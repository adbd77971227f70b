import sys
from pathlib import Path

# the checkout root, so ``perfbench`` imports as a package
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
