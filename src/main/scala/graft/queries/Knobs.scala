package graft.queries

/** Scale knobs: env-overridable operator parameters for the decade
  * sweeps recorded in SCALE.md, with two uniform disciplines (round 16,
  * promoted out of Dedup where round 15 introduced them):
  *
  *  1. validated parse — a garbage value fails loudly with the knob
  *     named, never a silent `NumberFormatException` deep in a plan;
  *  2. the Verify gate — the DuckDB oracle pins each knob's DEFAULT,
  *     so under `graft.Verify` (the `graft.verify` system property)
  *     every knob is IGNORED: a leaked sweep env var would otherwise
  *     desync a query from its oracle with an opaque hash mismatch.
  */
object Knobs {

  private def gated[T](name: String, default: T)(parse: String => T): T =
    if (sys.props.get("graft.verify").contains("true")) default
    else sys.env.get(name).map(parse).getOrElse(default)

  /** Positive-int knob (≤4 digits — cluster counts, band counts…). */
  def scaleKnob(name: String, default: Int): Int =
    gated(name, default) { v =>
      require(v.matches("[0-9]{1,4}") && v.toInt > 0,
        s"$name must be a positive int, got '$v'")
      v.toInt
    }

  /** Positive-int knob with wider range (≤9 digits — sketch widths). */
  def scaleKnobWide(name: String, default: Int): Int =
    gated(name, default) { v =>
      require(v.matches("[0-9]{1,9}") && v.toInt > 0,
        s"$name must be a positive int, got '$v'")
      v.toInt
    }

  /** Positive-long knob (≤18 digits — per-node mass budgets). */
  def scaleKnobLong(name: String, default: Long): Long =
    gated(name, default) { v =>
      require(v.matches("[0-9]{1,18}") && v.toLong > 0,
        s"$name must be a positive long, got '$v'")
      v.toLong
    }
}
