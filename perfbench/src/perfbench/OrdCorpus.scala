package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.ord._
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.util.Random

/** Seeded ORD corpus: `OrdDataset` rows in the five catalog files, the
  * per-reaction raw JSON rendered through `OrdFixtures.renderFile`, and
  * the counts the benchmark checks graft's outputs against.
  *
  * The corpus covers what the reference data carries: v1 datasets (the
  * vestigial outcome amount) and v2 datasets (measurements), ordered
  * assoc-list inputs, tagged-union amounts (moles, volume, mass or
  * none), about one empty dataset in twelve, and a few failed
  * reactions. Every envelope's `total_reactions_scraped` equals its
  * reaction count. */
object OrdCorpus {
  /** The catalog file names, in the order `OrdApi` numbers them. */
  val Files5: Seq[String] = Seq(
    "ord_formatted_data.json", "ord_formatted_data_one.json",
    "ord_formatted_data_two.json", "ord_formatted_data_three.json",
    "ord_formatted_data_single.json")
  private val V2Files = Set("ord_formatted_data.json", "ord_formatted_data_two.json")
  private val Roles = Seq("REACTANT", "REACTANT", "REAGENT", "SOLVENT",
    "CATALYST", "WORKUP", "INTERNAL_STANDARD")
  private val IdTypes = Seq("SMILES", "SMILES", "NAME", "INCHI", "CAS_NUMBER")
  private val Tabs = Seq("reactant 1", "reactant 2", "solvent", "catalyst",
    "base", "workup")
  private val Units = Map(
    "moles" -> Seq("MILLIMOLE", "MOLE", "MICROMOLE"),
    "volume" -> Seq("MILLILITER", "LITER", "MICROLITER"),
    "mass" -> Seq("GRAM", "MILLIGRAM"))

  private def hex(r: Random, n: Int): String =
    Iterator.continually(r.nextInt(16)).take(n).map(Integer.toHexString).mkString

  private def idents(r: Random): Seq[OrdIdent] =
    (0 until 1 + r.nextInt(3)).map { _ =>
      val t = IdTypes(r.nextInt(IdTypes.size))
      OrdIdent(t, t match {
        case "SMILES" => Seq.fill(3 + r.nextInt(10))("CNOc=()1"(r.nextInt(8))).mkString
        case "NAME" => s"compound ${r.nextInt(5000)}"
        case "INCHI" => s"InChI=1S/C${1 + r.nextInt(30)}H${r.nextInt(60)}"
        case _ => s"${r.nextInt(9000) + 100}-${r.nextInt(90) + 10}-${r.nextInt(10)}"
      })
    }

  private def component(r: Random, pos: Int): OrdComponent = {
    val p = r.nextDouble()
    val kind = if (p < 0.45) "moles" else if (p < 0.75) "volume"
      else if (p < 0.9) "mass" else "none"
    val (value, units) =
      if (kind == "none") (None, null)
      else (Some(math.round(r.nextDouble() * 1e6) / 1e4),
        Units(kind)(r.nextInt(Units(kind).size)))
    OrdComponent(pos, idents(r), kind, value, units, Roles(r.nextInt(Roles.size)))
  }

  private def reaction(r: Random, pos: Int, v2: Boolean): OrdReaction = {
    val tabs = r.shuffle(Tabs).take(1 + r.nextInt(4)).map { name =>
      OrdTab(name, (0 until 1 + r.nextInt(3)).map(component(r, _)))
    }
    val outcomes = (0 until 1 + r.nextInt(2)).map { i =>
      val ms = if (!v2) Nil else (0 until 1 + r.nextInt(3)).map { _ =>
        val withMass = r.nextBoolean()
        OrdMeasurement(
          if (r.nextInt(5) == 0) None else Some(1 + r.nextInt(10)),
          s"detail ${r.nextInt(100)}",
          if (withMass) Some(math.round(r.nextDouble() * 1e5) / 1e3) else None,
          if (withMass) "GRAM" else null)
      }
      OrdOutcome(i, idents(r), "PRODUCT", i == 0, !v2, ms)
    }
    OrdReaction(pos, s"ord-${hex(r, 32)}", r.nextInt(20) != 0, tabs, outcomes)
  }

  /** `n` datasets spread over the five files, reproducible from `seed`. */
  def datasets(seed: Long, n: Int): Seq[OrdDataset] = {
    val r = new Random(seed)
    val posInFile = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    (0 until n).map { _ =>
      val file = Files5(r.nextInt(Files5.size))
      val v2 = V2Files(file)
      val pos = posInFile(file); posInFile(file) = pos + 1
      val rxs = if (r.nextInt(12) == 0) Nil
        else (0 until 1 + r.nextInt(9)).map(reaction(r, _, v2))
      val shape = if (rxs.exists(_.outcomes.exists(_.measurements.nonEmpty))) "v2" else "v1"
      OrdDataset(file, shape, pos, s"ord_dataset-${hex(r, 32)}", rxs.size.toLong, rxs)
    }
  }

  /** The raw JSON of each reaction, as the reference's file renders it. */
  def raws(ds: Seq[OrdDataset]): Seq[OrdRaw] = {
    val mapper = new ObjectMapper()
    ds.flatMap { d =>
      val rendered = OrdFixtures.renderFile(mapper, Seq(d)).get(d.dataset_id).get("reactions")
      d.reactions.indices.map(i =>
        OrdRaw(d.file, d.dataset_id, d.reactions(i).reaction_id, rendered.get(i).toString))
    }
  }

  /** Write `ord_nested_v2.parquet`, `ord_raw.parquet` and `truth.json`
    * into `dir`. */
  def write(s: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    import s.implicits._
    val ds = datasets(seed, n)
    ds.toDS().coalesce(1).write.mode("overwrite").parquet(s"$dir/ord_nested_v2.parquet")
    raws(ds).toDS().coalesce(1).write.mode("overwrite").parquet(s"$dir/ord_raw.parquet")
    Files.writeString(Paths.get(s"$dir/truth.json"), truth(ds))
  }

  /** Per-dataset facts and the component histograms, as JSON. */
  def truth(ds: Seq[OrdDataset]): String = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    val arr = root.putArray("datasets")
    ds.foreach { d =>
      val o = arr.addObject()
      o.put("file", d.file); o.put("dataset_id", d.dataset_id); o.put("ds_pos", d.ds_pos)
      o.put("n_rx", d.reactions.size)
      o.put("n_success", d.reactions.count(_.success))
      val ids = o.putArray("reaction_ids"); d.reactions.foreach(x => ids.add(x.reaction_id))
    }
    val comps = for (d <- ds; rx <- d.reactions; t <- rx.inputsMap; c <- t.components)
      yield (d.file, c)
    def hist(name: String, keys: Seq[Seq[String]]): Unit = {
      val h = root.putArray(name)
      keys.groupBy(identity).toSeq.sortBy(_._1.mkString("\u0000")).foreach { case (k, v) =>
        val row = h.addArray(); k.foreach(x => row.add(x)); row.add(v.size)
      }
    }
    hist("roles", comps.map { case (f, c) => Seq(f, c.reaction_role) })
    hist("amounts", comps.map { case (f, c) => Seq(f, c.amount_kind, c.amount_units) })
    hist("id_types", comps.flatMap { case (f, c) => c.identifiers.map(i => Seq(f, i.id_type)) })
    m.writeValueAsString(root)
  }
}
