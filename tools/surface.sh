#!/bin/bash
# Print the size of graft's code and configuration surface, the numbers
# ROADMAP.md tracks: src/main lines, sys.env reads, distinct spark.graft.*
# conf keys, mains, public defs declared directly in the graft.ops objects
# (local defs inside a method are indented deeper and not counted), and
# hand-written Catalyst expression classes (declarations that extend
# Expression, UnaryExpression or BinaryExpression), and the random-
# hyperplane banding sites (gf.hyperplaneBucket calls in graft.ops), and the
# prefix hit-count sites (Prefix.hitBound calls outside Prefix.scala: hits
# are counted only in the gf.prefixCandidates kernel, so this reads 0).
#
# Usage: tools/surface.sh   (reports on the checkout the script sits in)
set -euo pipefail
cd "$(dirname "$0")/.."

main=src/main/scala
echo "src_main_lines   $(find "$main" -name '*.scala' -exec cat {} + | wc -l)"
echo "sys_env_reads    $(grep -rF 'sys.env' "$main" | wc -l)"
echo "spark_graft_keys $(grep -rhoE '"spark\.graft\.[A-Za-z.]+"' "$main" | sort -u | wc -l)"
echo "mains            $(grep -rlE 'def main\(' "$main" | wc -l)"
echo "ops_public_defs  $(grep -rhE '^  def ' "$main/graft/ops" | wc -l)"
echo "catalyst_expr_classes $(grep -rhE '\bextends (Unary|Binary)?Expression\b' "$main" | wc -l)"
echo "hyperplane_banding_sites $(grep -rF 'gf.hyperplaneBucket(' "$main/graft/ops" | wc -l)"
echo "prefix_hit_count_sites $(grep -rF --exclude=Prefix.scala 'Prefix.hitBound(' "$main" | wc -l)"
