#!/bin/bash
# Print the size of graft's code and configuration surface, the numbers
# ROADMAP.md tracks: src/main lines, sys.env reads, distinct spark.graft.*
# conf keys, and mains.
#
# Usage: tools/surface.sh   (reports on the checkout the script sits in)
set -euo pipefail
cd "$(dirname "$0")/.."

main=src/main/scala
echo "src_main_lines   $(find "$main" -name '*.scala' -exec cat {} + | wc -l)"
echo "sys_env_reads    $(grep -rF 'sys.env' "$main" | wc -l)"
echo "spark_graft_keys $(grep -rhoE '"spark\.graft\.[A-Za-z.]+"' "$main" | sort -u | wc -l)"
echo "mains            $(grep -rlE 'def main\(' "$main" | wc -l)"
