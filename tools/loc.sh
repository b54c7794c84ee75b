#!/usr/bin/env sh
# Scala line counts per top-level package under src/main/scala/graft,
# plus the total. Run from the repository root: sh tools/loc.sh
root=src/main/scala/graft
for d in "$root"/*/; do
  n=$(find "$d" -name '*.scala' -exec cat {} + | wc -l)
  printf '%-12s %6d\n' "$(basename "$d")/" "$n"
done
n=$(find "$root" -maxdepth 1 -name '*.scala' -exec cat {} + | wc -l)
printf '%-12s %6d\n' "(top level)" "$n"
printf '%-12s %6d\n' "total" "$(find "$root" -name '*.scala' -exec cat {} + | wc -l)"
