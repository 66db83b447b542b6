package graft

import java.nio.file.{Files, Path, Paths}

/** The reference's sample Keboola datadir (FIXTURES.md §1), rebuilt
  * under `src/test/resources/sample-config`: a 7-column all-STRING
  * table without a primary key, 21 rows with exact duplicates on
  * `Eventbrite_link`, `out/tables/test.csv` mirroring the input, and
  * the generic component `config.json` without a `destination`.
  */
object SampleConfig {
  /** `reference` when that checkout exists, the vendored rebuild otherwise. */
  def dir(reference: Path): Path =
    if (Files.exists(reference)) reference else Paths.get("src/test/resources/sample-config")
}
