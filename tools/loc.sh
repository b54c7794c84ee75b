#!/usr/bin/env sh
# Scala line counts per top-level package under src/main/scala/graft,
# then the graftbridge package (src/main/scala/org/apache/spark/sql/
# graftbridge: graft code that must live in Spark's namespace), the total
# of both, and the lines of data under src/main/resources (the gate job
# corpus and oracle SQL), which the Scala-only total excludes.
# Run from the repository root: sh tools/loc.sh
root=src/main/scala/graft
bridge=src/main/scala/org/apache/spark/sql/graftbridge
for d in "$root"/*/; do
  n=$(find "$d" -name '*.scala' -exec cat {} + | wc -l)
  printf '%-12s %6d\n' "$(basename "$d")/" "$n"
done
n=$(find "$root" -maxdepth 1 -name '*.scala' -exec cat {} + | wc -l)
printf '%-12s %6d\n' "(top level)" "$n"
printf '%-12s %6d\n' "graftbridge/" "$(find "$bridge" -name '*.scala' -exec cat {} + | wc -l)"
printf '%-12s %6d\n' "total" "$(find "$root" "$bridge" -name '*.scala' -exec cat {} + | wc -l)"
printf '%-12s %6d\n' "resources/" "$(find src/main/resources -type f -exec cat {} + | wc -l)"
