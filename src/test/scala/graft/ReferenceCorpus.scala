package graft

import java.nio.file.{Files, Path, Paths}

import org.scalactic.source.Position
import org.scalatest.Assertions

import graft.kg.Sparql

/** The reference `.rq` corpus as the specs see it: where it is looked
  * for, whether it is there, and which registry keys read it at run
  * time. The corpus is a test input that lives outside this
  * repository, so specs that need its bytes guard on [[assumePresent]]
  * (a cancel that names the path and the override property), and the
  * plan-hygiene gates leave out exactly [[keys]] where it is absent. */
object ReferenceCorpus extends Assertions {

  /** The system property that moves the corpus (forwarded by build.sbt
    * from the sbt JVM to the forked test JVM). */
  val property = "graft.reference.queries.dir"

  /** Read per call: a spec may point the property elsewhere for a while. */
  def dir: Path = Paths.get(Sparql.referenceQueriesDir)

  def present: Boolean = Files.isDirectory(dir)

  /** Reference file → the SparkEntry key whose runner reads its bytes
    * verbatim through `Sparql.referenceText`. */
  val runners: Map[String, String] = Map(
    "lokale-from-factgrid.rq" -> "kg_sparql_lokale",
    "network-00-starting-point.rq" -> "kg_sparql_net0",
    "network-01-remove-na.rq" -> "kg_sparql_net1",
    "network-02-starting-point.rq" -> "kg_sparql_net2",
    "network-03-federated.rq" -> "kg_sparql_net3",
    "companions_and_relations.rq" -> "kg_sparql_companions",
    "companions_and_relations_no_constants.rq" -> "kg_sparql_noconst",
    "companions_hirschfeld.rq" -> "kg_sparql_hirschfeld",
    "db_all_person_relations.rq" -> "kg_sparql_family",
    "get_wiki_sitelinks.rq" -> "kg_sparql_wikilinks",
    "get_wiki_sitelinks_removena.rq" -> "kg_sparql_wikilinks_rna",
    "get_factgrid_ids_from_wikidata.rq" -> "kg_sparql_fgids",
    "get_factgrid_ids_from_wikidata-removena.rq" -> "kg_sparql_fgids_rna",
    "get_gnd_from_fg_and_wd.rq" -> "kg_sparql_gnd",
    "compare-factgrid-wikidata_one_item.rq" -> "kg_sparql_cmp1",
    "compare-factgrid-wikidata_many_items.rq" -> "kg_sparql_cmp",
    "persons_factgrid_wikidata.rq" -> "kg_sparql_persons",
    "orgs_factgrid_wikidata.rq" -> "kg_sparql_orgs",
    "get_all_properties_with_corresponding_prop.rq" -> "kg_sparql_props",
    "get_all_properties_person_with_corresponding_prop.rq" -> "kg_sparql_props_person",
    "time-items.rq" -> "kg_sparql_time",
    "test.rq" -> "kg_sparql_test")

  /** The registry keys that cannot run without the corpus. */
  def keys: Set[String] = runners.values.toSet

  /** Cancel the calling test unless the corpus directory exists. */
  def assumePresent()(implicit pos: Position): Unit =
    if (!present) cancel(s"reference .rq corpus not found at '$dir' — point " +
      s"-D$property at a checkout of the reference's " +
      "data-publishing/factgrid/queries directory")
}
