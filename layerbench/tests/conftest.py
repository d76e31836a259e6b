import os
import sys

# the repository root, so both ``layerbench`` and ``docling_parse_spark`` import
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
