package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.authors.{AuthorMatcher, Authorships}
import graft.core.Tables
import graft.functions.HumanName
import graft.resolve.{UnionLocations, WorkIdResolver}

/** Oracle-gated queries over the entity-resolution / assembly operators
  * that round 1 covered only with unit tests: HumanName parsing,
  * UnionLocations SCD1, WorkIdResolver adoption+minting, the
  * AuthorMatcher tier cascade, and Authorships assembly. Inputs are
  * synthesized deterministically from the driver fixtures (the q43
  * synthetic-edge trick); each DuckDB oracle recomputes the expected
  * output independently — either from the synthesis rules (q49) or by
  * structurally mirroring the documented operator semantics in SQL.
  */
object EntityQueries {
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** §2.9 HumanName parse: comma flip, suffix strip, nobiliary
    * particles, Han pass-through, single-token names, and the
    * romanization tier — Hangul (surname map + RR), Cyrillic natural
    * and surname-first-patronymic orders, kana Hepburn (incl. the
    * ou→o collapse), Arabic — one form per doc_id residue; the oracle
    * states the expected parse per form. */
  private def q49(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val names = Seq("Jane Smith", "Smith, Jane", "Jan van der Berg",
      "John Q. Public Jr.", "Maria de la Cruz", "李雷", "Doe, John PhD", "Prince",
      "김민준", "Иван Сергеевич Иванов", "Петрова Анна Сергеевна",
      "さとう ゆき", "محمد علي",
      // round-6 residues: digraph+ou-collapse kana, sokuon geminates,
      // 2-token Cyrillic (no patronymic), mixed Latin+Han
      "たなか きょうこ", "ちょう しゅんすけ", "はっとり けんいち",
      "ちゃん きっぺい", "Сергей Волков", "Li Wei 李伟", "歐陽修")
    val nameCol = elt(((pmod(col("doc_id"), lit(names.size)) + 1) +: names.map(lit)): _*)
    val p = HumanName.parse(nameCol)
    d.select(col("doc_id"), nameCol.as("raw_name"),
      p.getField("given").as("given"), p.getField("family").as("family"),
      HumanName.authorKey(nameCol).as("author_key"))
  }

  /** §2.1+§2.10 UnionLocations: unionByName(allowMissingColumns) across
    * feeds + SCD1 last-writer-wins by updated_date — feed B (even keys,
    * one day newer, no abstract column) must win over feed A. */
  private def q50(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val a = o.select(col("o_orderkey").cast("string").as("native_id"),
      lit("key").as("native_id_namespace"), lit("feedA").as("provenance"),
      col("o_orderdate").cast("timestamp").as("updated_date"),
      col("o_orderpriority").as("title"),
      lit(null).cast("string").as("abstract"))
    val b = o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .select(col("o_orderkey").cast("string").as("native_id"),
        lit("key").as("native_id_namespace"), lit("feedA").as("provenance"),
        (col("o_orderdate") + expr("INTERVAL 1 DAY")).cast("timestamp").as("updated_date"),
        concat(lit("B:"), col("o_orderpriority")).as("title"))
    UnionLocations(Seq(a, b)).select(col("native_id"), col("title"),
      date_format(col("updated_date"), "yyyy-MM-dd").as("updated"), col("abstract"))
  }

  /** §2.3+§1.1 WorkIdResolver: tiered adoption (doi → pmid →
    * title_author with the ≤3-candidate ambiguity cap) then namespaced
    * minting for the remainder. Residues: k%6=0 doi-adopted, 1
    * pmid-adopted, 2 title_author (2 candidates — capped pick), 3/4
    * unmatched doi/pmid (minted), 5 ambiguous title_author (4
    * candidates > cap — minted). */
  private def q51(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val k = col("o_orderkey")
    val ks = k.cast("string")
    val m3 = pmod(k, lit(3)); val m6 = pmod(k, lit(6))
    val locations = o.select(k.as("loc_id"), struct(
      when(m3 === 0, concat(lit("10.1/d"), ks)).as("doi"),
      when(m3 === 1, concat(lit("pm"), ks)).as("pmid"),
      lit(null).cast("string").as("arxiv"),
      when(m3 === 2, concat(lit("title author string number "), ks)).as("title_author"))
      .as("merge_key"))
    val doiMap = o.filter(m6 === 0).select(lit("doi").as("key_type"),
      concat(lit("10.1/d"), ks).as("key"), (lit(1000L) + k).as("work_id"))
    val pmidMap = o.filter(m6 === 1).select(lit("pmid").as("key_type"),
      concat(lit("pm"), ks).as("key"), (lit(2000L) + k).as("work_id"))
    def taMap(resid: Int, base: Long, n: Int) = (0 until n).map(i =>
      o.filter(m6 === resid).select(lit("title_author").as("key_type"),
        concat(lit("title author string number "), ks).as("key"),
        (lit(base + i) + k).as("work_id"))).reduce(_.unionByName(_))
    val idMap = doiMap.unionByName(pmidMap)
      .unionByName(taMap(2, 3000L, 2))   // 2 candidates: within cap
      .unionByName(taMap(5, 4000L, 4))   // 4 candidates: over cap
    WorkIdResolver.resolve(locations, idMap)
      .select(col("loc_id"), col("work_id"), col("work_id_source"))
  }

  /** §2.3 AuthorMatcher tier cascade: orcid (with publisher-stamped
    * duplicate skip) → block+institution-overlap unique → block+source
    * unique → block unique → minted. The oracle mirrors the cascade
    * structurally over the same synthesized frames. */
  private def q52(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val k = col("c_custkey"); val ks = k.cast("string")
    val incoming = c.select(
      pmod(k, lit(100)).as("work_id"),
      expr("c_custkey div 100").as("author_seq"),
      concat(lit("b"), pmod(k, lit(40)).cast("string")).as("block_key"),
      when(pmod(k, lit(4)) === 0, concat(lit("o"), ks))
        .when(pmod(k, lit(4)) === 2,
          concat(lit("odup"), pmod(k, lit(100)).cast("string"))).as("orcid"),
      array(concat(lit("i"), pmod(k, lit(7)).cast("string"))).as("institution_ids"),
      concat(lit("s"), pmod(k, lit(5)).cast("string")).as("source_id"))
    val candidates = c.filter(pmod(k, lit(3)) === 0 && k <= 180).select(
      (lit(500L) + k).as("author_id"),
      concat(lit("b"), pmod(k, lit(40)).cast("string")).as("block_key"),
      when(pmod(k, lit(12)) === 0, concat(lit("o"), ks)).as("orcid"),
      array(concat(lit("i"), pmod(k, lit(7)).cast("string")),
        concat(lit("i"), pmod(k + 1, lit(7)).cast("string"))).as("institution_ids"),
      array(concat(lit("s"), pmod(k, lit(5)).cast("string")),
        concat(lit("s"), pmod(k + 2, lit(5)).cast("string"))).as("source_ids"))
    AuthorMatcher.matchAuthors(incoming, candidates)
      .select(col("work_id"), col("author_seq"), col("author_id"), col("match_tier"))
  }

  /** §2.4 Authorships assembly: institution lineage enrich (broadcast
    * dim), first/middle/last positions, per-work ordered array +
    * corresponding flag; institutions dim from nation, some institution
    * ids deliberately unresolvable, some authors with null id arrays. */
  private def q53(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val k = col("c_custkey")
    val matched = c.select(
      pmod(k, lit(200)).as("work_id"),
      expr("c_custkey div 200").as("author_seq"),
      concat(lit("A"), k.cast("string")).as("author_id"),
      col("c_name").as("raw_name"),
      (pmod(k, lit(5)) === 0).as("is_corresponding"),
      when(pmod(k, lit(11)) === 0, lit(null).cast("array<string>"))
        .otherwise(array(concat(lit("n"), pmod(k, lit(30)).cast("string"))))
        .as("institution_ids"))
    val n = t(s, dir, "nation")
    val institutions = n.select(
      concat(lit("n"), col("n_nationkey").cast("string")).as("institution_id"),
      col("n_name").as("display_name"),
      concat(lit("c"), col("n_regionkey").cast("string")).as("country_code"),
      array(concat(lit("n"), col("n_nationkey").cast("string")),
        concat(lit("r"), col("n_regionkey").cast("string"))).as("lineage"))
    Authorships.assemble(matched, institutions)
      .select(col("work_id"),
        to_json(col("authorships"), Map("ignoreNullFields" -> "false")).as("authorships"),
        col("has_corresponding"))
  }

  /** §2.4 author_topics satellite (CreateAuthors.ipynb cell 4):
    * grouping-sets author-topic counts + corpus topic totals in one
    * pass, share = count/total (e7-scaled for exact oracle compare). */
  private def q54(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val k = col("o_orderkey")
    val base = o.select(col("o_custkey").as("author_id"), k.as("work_id"),
      concat(lit("t"), pmod(k, lit(20)).cast("string")).as("topic_id"))
    val extra = o.filter(pmod(k, lit(3)) === 0)
      .select(col("o_custkey").as("author_id"), k.as("work_id"),
        concat(lit("t"), pmod(k + 7, lit(20)).cast("string")).as("topic_id"))
    graft.entities.Authors.authorTopics(base.unionByName(extra))
      .select(col("author_id"),
        to_json(col("topics")).as("topics_json"),
        to_json(transform(col("topic_share"), x => struct(
          x.getField("id").as("id"), x.getField("value_e7").as("value_e7"))))
          .as("share_json"))
  }

  /** §2.4 author counts_by_year satellite (CreateAuthors.ipynb cell 8):
    * per author-year work/oa/citation counts. */
  private def q55(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val k = col("o_orderkey")
    val staging = o.select(col("o_custkey").as("author_id"),
      year(col("o_orderdate")).as("pub_year"),
      (pmod(k, lit(2)) === 0).as("is_oa"),
      pmod(k, lit(17)).as("work_cited_by_count"))
    graft.entities.Authors.countsByYear(staging)
  }

  /** §2.1+§2.8 Sources registry snapshot: typed-JSON parsing (array of
    * struct, map<string,int>, string arrays with [] default) + merge
    * redirect resolution — synthesized JSONB strings per residue, the
    * oracle states expected values from the synthesis rules. */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val k = col("c_custkey")
    val raw = c.select(k.as("id"),
      when(k % 3 === 0, lit("""[{"price":1000,"currency":"USD"},{"price":900,"currency":"EUR"}]"""))
        .when(k % 3 === 1, lit("[]")).as("apc_prices"),
      when(k % 2 === 0, lit("""{"2023":1500,"2024":1600}""")).as("apc_usd_by_year"),
      lit(null).cast("string").as("societies"),
      when(k % 4 === 0, lit("""["alt one","alt two"]""")).as("alternate_titles"),
      lit(null).cast("string").as("datacite_ids"),
      concat(lit("https://pub"), k.cast("string"), lit(".example")).as("homepage_url"),
      when(k % 10 === 0, k + 1).as("merge_into_id"))
    val snap = graft.entities.Sources.withCanonicalId(
      graft.entities.Sources.legacySnapshot(raw))
    snap.select(col("id"),
      try_element_at(col("apc_prices"), lit(1)).getField("price").as("apc_first"),
      try_element_at(col("apc_usd_by_year"), lit("2024")).as("apc_2024"),
      when(col("alternate_titles").isNotNull, size(col("alternate_titles"))).as("n_alt"),
      size(col("datacite_ids")).as("n_datacite"),
      col("webpage"), col("is_redirect"), col("canonical_id"))
  }

  /** §2.4 entity summary stats (funders/institutions/publishers API
    * shape): works/citations/OA counts, h-index from the sorted
    * citation array (one zip_with fold), i10, recent mean citedness. */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val k = col("o_orderkey")
    val wf = o.select((col("o_custkey") % 100).as("funder_id"),
      k.as("work_id"), (k % 23).as("cited_by_count"),
      (k % 2 === 0).as("is_oa"), year(col("o_orderdate")).as("pub_year"))
    graft.entities.Metrics.rollup(wf, "funder_id",
        countDistinct(col("work_id")).cast("int"), recentYearMin = 1997)
      .withColumn("cited_by_count", col("cited_by_count").cast("int"))
  }

  /** §2.3 institution ancestry: recursive parent-hierarchy closure as a
    * bounded iterative self-join (the reference's WITH RECURSIVE walk).
    * Synthetic hierarchy: every customer key ≥ 10 has parent k div 10
    * (chains like 1234 → 123 → 12 → 1, depth ≤ 3); the oracle mirrors
    * with DuckDB's native recursive CTE. */
  private def q60(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val k = col("c_custkey")
    val edges = c.filter(k >= 10)
      .select(k.as("child_id"), expr("c_custkey div 10").as("parent_id"))
    val anc = graft.entities.Institutions.ancestors(edges, maxDepth = 5)
    graft.entities.Institutions.lineage(anc)
      .select(col("institution_id"), to_json(col("lineage_ids")).as("lineage"),
        col("n_ancestors"), col("max_generation"))
  }

  /** §2.1 Wunpaywall feed: per-DOI JSON + sha2 response hash, change
    * dates kept unless the hash moved — two synthesized feed versions
    * (changed rows, unchanged rows, new DOIs). */
  private def q63(s: SparkSession, dir: String): DataFrame = {
    import graft.serve.WunpaywallFeed
    val o = t(s, dir, "orders")
    val k = col("o_orderkey"); val ks = k.cast("string")
    def version(maxKey: Int, bumped: Boolean) = {
      val n = if (bumped) when(k % 5 === 0, (k % 7 + 1).cast("int"))
        .otherwise((k % 7).cast("int")) else (k % 7).cast("int")
      o.filter(k <= maxKey).select(concat(lit("10.7/"), ks).as("doi"),
        col("o_orderpriority").as("status"), n.as("n"))
    }
    val feed1 = WunpaywallFeed.build(version(6000, bumped = false), "doi",
      Seq("doi", "status", "n"), None, lit("2024-01-01"))
    val feed2 = WunpaywallFeed.build(version(6600, bumped = true), "doi",
      Seq("doi", "status", "n"), Some(feed1), lit("2024-02-02"))
    feed2.select(col("doi"), col("changed_date"), col("response_hash"))
  }

  /** §2.9 affiliation-string → institution_ids via the data-driven
    * rules table (AffiliationRules: gate/word/require/exclude rows
    * translated from the reference cascade). Affiliation strings are a
    * fixed template rotation (one entry per q64Templates element) over
    * customer keys exercising macron
    * variants, acronym word-boundaries, require-gates, exclude-shadowed
    * elif branches, multi-id appends, and no-match rows; the oracle
    * re-evaluates the SAME rule rows (VALUES mirror) over the same
    * normalization in DuckDB. */
  private[queries] val q64Templates: Seq[String] = Seq(
    // batch 15 (France mega-block remainder + HK/Poznan/Ohio/Nancy):
    // acronym under the France gate, GRC n° require-regex forms,
    // UMR-S unit spellings, CEA elif-shadowing (LIST must beat
    // Saclay), the CERES shadow miss, HKU Shenzhen-Hospital split,
    // Poznan geography elif, Ohio campus elif + else fall-through,
    // Nancy acronyms, and the inserm-unit conjunction
    "LISIS, Université Gustave Eiffel, France",
    "GRC n°27 GRECO, Sorbonne Université, France",
    "Groupe de Recherche Clinique 30 RESPIRE, Paris, France",
    "INSERM UMR_S 933, Hôpital Trousseau, France",
    "CEA LIST, Saclay, France",
    "CEA, Saclay, France",
    "CATI, CEA, Gif-sur-Yvette, France",
    "CERES, UMS 28 Phénotypage du petit animal, Paris, France",
    "The University of Hong Kong-Shenzhen Hospital, HKU",
    "HKU, Pokfulam, Hong Kong",
    "Poznan University of Life Sciences, Lublin",
    "University of Life Sciences, Lublin, Poland",
    "Ohio University Chillicothe",
    "Ohio University, Athens, OH",
    "UHP Nancy 1, France",
    "Hospices civils de Lyon, HCL, France",
    "INSERM U1060, CarMeN, Lyon",
    // batches 13-14 (the mechanically-entered acronym tail: plain
    // word-bounded acronyms, hyphen/apostrophe forms, diacritic
    // variants, city require-gates with a gate-miss negative, the
    // double-id DIADE blocks, and the Tunis conjunction + phrase rules)
    "CRIStAL, Université de Lille, France",
    "ART-Dev, Université Paul Valéry, Montpellier",
    "C'Nano IdF, Île-de-France",
    "CLERSÉ, Villeneuve d'Ascq, France",
    "UMET, Villeneuve d'Ascq, France",
    "UMET, Lyon, France",
    "LMV, Université Clermont Auvergne",
    "LMV, Université de Versailles Saint-Quentin",
    "DIADE, Univ de Montpellier",
    "IRISA, Rennes, France",
    "GEPI, Observatoire de Paris, Meudon",
    "CHU de Nice, Hôpital Pasteur, Nice",
    "SETE, Moulis, Foix, France",
    "Université de Tunis El Manar, Tunis, Tunisia",
    "University of Tunis Manar, Tunisia",
    "Tunis Business School, Tunis",
    // batch 12 (UCL, Radboud, UPC, JHU, Mainz)
    "University College London, Gower Street, London",
    "UCL Queen Square Institute of Neurology, London",
    "Radboud University, Nijmegen, The Netherlands",
    "Radboud University Medical Center, Nijmegen",
    "UMC, Nijmegen, The Netherlands",
    "TU Dortmund, Dortmund, Germany",
    "University of Illinois at Chicago, Chicago, IL",
    "University of Illinois College of Medicine, Rockford, Chicago program",
    "UIC, Chicago, Illinois",
    "SMU, Dallas, TX 75275",
    "Barcelona Supercomputing Center (BSC), Barcelona",
    "UPC BarcelonaTech, Barcelona, Spain",
    "Technical University of Catalonia, Spain",
    "JHU, Baltimore, Maryland",
    "Johns Hopkins Bloomberg School of Public Health, Baltimore, MD",
    "Johns Hopkins University, 3400 N Charles St",
    "Johns Hopkins University Applied Physics Laboratory, Laurel",
    "Johannes Gutenberg University, Mainz, Germany",
    "Universitätsmedizin Mainz, Mainz",
    "Uludag University, Bursa, Turkey",
    "Yokohama City University School of Medicine",
    "Tampere University of Technology, Tampere, Finland",
    "NTUA, Athens, Greece",
    "Università di Trento, Trento, Italy",
    "Universität Siegen, Siegen, Germany",
    "Ulster University, Jordanstown campus",
    // batch 11 (Maryland, Hamburg, AIIMS, IPN, North Texas)
    "University of Maryland, Baltimore County, MD",
    "University of Maryland School of Medicine, Baltimore",
    "University of Maryland, College Park, MD 20742",
    "University Medical Center Hamburg-Eppendorf, Hamburg, Germany",
    "University of Hamburg, Hamburg, Germany",
    "UKE, Hamburg",
    "Comenius University, Bratislava, Slovakia",
    "Politecnico di Bari, Bari, Italy",
    "Hanoi University of Science and Technology, Hanoi",
    "Graduate University of Science and Technology, VAST, Hanoi",
    "USTH, Vietnam Academy",
    "SSN College of Engineering, Chennai, India",
    "Sri Sivasubramaniya Nadar College of Engineering, Kalavakkam",
    "National Kaohsiung University of Science and Technology, Kaohsiung",
    "HSE University, Moscow",
    "Jinzhou Medical University, Jinzhou, Liaoning",
    "Christian Medical College, Vellore",
    "AIIMS, New Delhi, India",
    "AIIMS Bhubaneswar, Odisha",
    "AIIMS Rishikesh, Uttarakhand, India",
    "Anna University, Chennai, India",
    "Anna University Regional Campus, Coimbatore",
    "CINVESTAV-IPN, Mexico City",
    "Instituto Politécnico Nacional (IPN), México",
    "ESIME Zacatenco, IPN",
    "Army Engineering University, Shijiazhuang, China",
    "University of North Texas Health Science Center, Fort Worth",
    "University of North Texas, Denton, TX",
    "University of North Texas at Dallas",
    // batch 9-10 (Russia→Chile, Canada/Québec)
    "National Research Nuclear University MEPhI, Moscow, Russia",
    "Moscow Institute of Physics and Technology, Dolgoprudny, Russia",
    "Institute of Physics and Technology, Moscow, Russia",
    "University of Texas Health Science Center, San Antonio, TX",
    "University of Hawai'i at Manoa, Honolulu",
    "University of Lübeck, Germany",
    "Sveučilišta u Splitu, Croatia",
    "Azienda Ospedaliera Maggiore della Carità, Novara, Italy",
    "Università del Piemonte Orientale, Novara, Italy",
    "Palacký University, Olomouc, Czech Republic",
    "Higher School of Economics, Moscow",
    "Tomsk State University, Tomsk, Russia",
    "Tomsk State University of Control Systems",
    "University of Georgia, Athens, GA 30602",
    "Baylor University, Waco, Texas",
    "Baylor University Medical Center, Dallas",
    "Xuzhou Medical University, Xuzhou, Jiangsu",
    "CHU de Reims, Hôpital Maison Blanche, Reims, France",
    "Université de Reims Champagne-Ardenne, Reims",
    "Soochow University, Suzhou, China",
    "X University, Toronto, Ontario, Canada",
    "Universidad Central de Chile, Santiago, Chile",
    "UQAM, Montréal, Canada",
    "Université du Québec à Trois-Rivières (UQTR), Canada",
    "Université du Québec à Montréal, Montréal, QC",
    "Université du Québec en Outaouais, Gatineau",
    "TÉLUQ, Québec, Canada",
    "INRS-Institut Armand-Frappier, Laval, Canada",
    "École de Technologie Supérieure, Montréal",
    "ENAP, Québec City, Canada",
    // batch 8 (LSU→Colorado Denver cluster)
    "LSU Health Sciences Center, New Orleans, LA",
    "Università degli Studi di Trieste, Italy",
    "Department of Physics, UniTS, Trieste, Italy",
    "University of Tennessee, Knoxville, TN",
    "University of Tennessee System, Knoxville",
    "China University of Geosciences, Wuhan 430074, China",
    "Texas Tech University, Lubbock, Texas",
    "Third Military Medical University, Chongqing, China",
    "Harbin Medical University, Harbin, China",
    "Czech Technical University in Prague, Czech Republic",
    "Georgetown University Medical Center, Washington DC",
    "Georgetown University in Qatar, Doha",
    "Ludwig-Maximilians-Universität München, Germany",
    "LMU Munich, Geschwister-Scholl-Platz 1",
    "University of Macau, Taipa, Macau SAR",
    "Macau University of Science and Technology",
    "Near East University, Nicosia",
    "National Yang-Ming University, Taipei, Taiwan",
    "University of Colorado Denver/Anschutz Medical Campus, Aurora",
    "Kunming Medical University, Kunming, China",
    // batch 7 (France cluster, CUNY, Tunis)
    "LESIA, Observatoire de Meudon",
    "UVSQ, Versailles, France",
    "Université Gustave Eiffel, Marne-la-Vallée",
    "ESIEE Paris, Noisy-le-Grand, France",
    "Institut National Polytechnique de Toulouse (INPT), France",
    "ENSEEIHT, 2 rue Charles Camichel, Toulouse",
    "CHU de Rouen, 1 rue de Germont, Rouen, France",
    "CHU, 37 boulevard Gambetta, Rouen cedex",
    "Télécom SudParis, Évry, France",
    "IPP, Palaiseau",
    "Université Paris-Saclay, Gif-sur-Yvette",
    "Ecole Polytechnique, 91128 Palaiseau Cedex France",
    "LIX, Computer Science Laboratory, Ecole Polytechnique, Palaiseau",
    "Université Paris-Sud, Orsay, France",
    "IRMAR, Université de Rennes 1",
    "University of Bordeaux, CNRS, ICMCB, Pessac, France",
    "IMS, UMR 5218, Bordeaux INP, Talence",
    "LaBRI, Université de Bordeaux, Talence, France",
    "Sorbonne Université, 75005 Paris, France",
    "Université Sorbonne Nouvelle - Paris 3, France",
    "Sorbonne University Abu Dhabi, UAE",
    "UPMC Univ Paris 6, UMR 7589, LPTHE, Paris",
    "Université Paris Diderot, Sorbonne Paris Cité, 75013 Paris",
    "Université Paris-Est Créteil (UPEC), Créteil, France",
    "Université Paris 13, Sorbonne Paris Nord, Villetaneuse",
    "The Graduate Center, CUNY, New York, NY 10016",
    "ASRC, City University of New York, USA",
    "Advanced Science Research Center, Marseille, France",
    "Université de Tunis El Manar, Tunis, Tunisia",
    "UTM, Skudai, Johor, Malaysia",
    "Te Pūkenga, Auckland Campus, New Zealand",
    "NZ Institute of Skills and Technology, Wellington, New Zealand",
    "Helsingin yliopisto, Helsinki, Finland",
    "St. Xavier's University, Kolkata, India",
    "St. Xavier's University, Mumbai, India",
    "IIM Bodhgaya, Bihar, India",
    "Indian Institute of Management, Bodhgaya",
    "Université Concordia, Montréal, QC",
    "Concordia University, Quebec, Canada H3G 1M8",
    "Concordia University, Portland, Oregon, USA",
    "Wyant College of Optical Sciences, Tucson",
    "Cadi Ayyad University, Marrakech, Morocco",
    "UCA, Marrakech",
    "AGH University of Science and Technology, Krakow, Poland",
    "Universidad Autónoma de Madrid, Spain",
    "UAM, Madrid",
    "Universidad Carlos III de Madrid, Spain",
    "Babeș-Bolyai University, Cluj-Napoca, Romania",
    "Benemérita Universidad Autónoma de Puebla, Mexico",
    "Boğaziçi University, Istanbul, Turkey",
    "Brunel University London, Uxbridge, UK",
    "Western University, London, Ontario, Canada N6A 3K7",
    "Western University of Health Sciences, Pomona, California",
    "Changchun University of Technology, Changchun, China",
    "Central China Normal University, Wuhan, China",
    "China Medical University Hospital, Taichung, Taiwan",
    "China Medical University, Shenyang, Liaoning, China",
    "China University of Petroleum, Qingdao, Shandong",
    "University of Petroleum, Beijing, China",
    "Chinese Academy of Medical Sciences, Beijing, China",
    "Weill Cornell Medicine, New York, NY, USA",
    "Weill Cornell Medicine - Qatar, Doha, Qatar",
    "Boyce Thompson Institute, Ithaca, NY",
    "Çukurova University, Adana, Turkey",
    "Université de Cergy-Pontoise, France",
    "ESSEC Business School, Cergy, France",
    "Czech Technical University in Prague, Czech Republic",
    "CVUT v Praze, FEL",
    "Czech University of Life Sciences Prague, Praha",
    "Eastern Mediterranean University, Famagusta, North Cyprus",
    "EPFL, CH-1015 Lausanne, Switzerland",
    "École Polytechnique Fédérale de Lausanne (EPFL), Switzerland",
    "Eötvös Loránd University, Budapest, Hungary",
    "ELTE, Budapest, Hungary",
    "Universidade Federal do Rio Grande, Rio Grande, RS, Brazil",
    "Universidade Federal do Rio Grande do Sul, Porto Alegre, Brazil",
    "UFRGS, Instituto de Informática, Porto Alegre, Brasil",
    "Laboratoire d'Informatique Gaspard-Monge (LIGM), Marne-la-Vallée, France",
    "SUBATECH, IMT Atlantique, Nantes, France",
    "Institut des Matériaux Jean Rouxel (IMN), Nantes, France",
    "The Chinese University of Hong Kong, Shenzhen, China",
    "The University of Hong Kong, Pokfulam, Hong Kong",
    "City University of Hong Kong, Kowloon",
    "Department of Chemistry, University of Georgia, Athens, GA 30602",
    "Baylor University Medical Center, Dallas, TX",
    "Baylor University, Waco, Texas",
    "Tomsk State University of Control Systems",
    "National Research Tomsk State University, Tomsk, Russia",
    "Higher School of Economics, Moscow, Russia",
    "Moscow Institute of Physics and Technology, Dolgoprudny, Russia",
    "X University, Toronto, Ontario, Canada",
    "Soochow University, Suzhou, Jiangsu, China",
    "University of Hawai'i at Mānoa, Honolulu, HI",
    "Department of Physics, Generic State University",
    "Independent Researcher",
    "CHU de Reims, Hôpital Maison Blanche, Reims, France",
    "Université de Reims Champagne-Ardenne, Reims, France",
    "University of Texas Health Science Center at San Antonio, TX",
    "UQAM, Montréal, Canada",
    "Université du Québec à Trois-Rivières, QC, Canada",
    "All India Institute of Medical Sciences (AIIMS), New Delhi",
    "AIIMS Bhopal, Madhya Pradesh",
    "University of Maryland, Baltimore County, MD",
    "University of Maryland School of Medicine, Baltimore, MD",
    "Universitätsklinikum Hamburg-Eppendorf (UKE), Hamburg, Germany",
    "CINVESTAV-IPN, Ciudad de México, Mexico",
    "Politecnico di Bari, Italy",
    "SSN College of Engineering, Chennai, India",
    "École de technologie supérieure, Montréal, Canada",
    "Laboratoire de Physique des Plasmas (LPP), École Polytechnique, France",
    "NeuroDiderot, UMR 1141, INSERM, Université Paris Cité, France",
    "University of North Texas Health Science Center, Fort Worth, TX",
    "Université Claude Bernard Lyon 1, Villeurbanne, France",
    "CHU de Tours, Hôpital Bretonneau, Tours, France",
    "Institut Camille Jordan, UMR 5208, Lyon",
    "EdUHK, Tai Po, Hong Kong",
    "Université de Tours, France",
    "Institut Denis Poisson, Orléans, France",
    "Goethe-Universität Frankfurt am Main, Germany",
    "Medical Faculty Mannheim, Heidelberg University, Germany",
    "Graz University of Technology (TU Graz), Austria",
    "Universidade Estadual de Campinas (UNICAMP), SP, Brazil",
    "Hochschule Düsseldorf University of Applied Sciences",
    "Indian School of Mines (ISM), Dhanbad, India",
    "INSERM U1052, CNRS UMR5286, Université de Lyon, France",
    "CEA-Leti, Grenoble, France",
    "INSA de Lyon, Villeurbanne, France",
    "Istanbul Technical University, Maslak, Istanbul",
    "Univ. Grenoble Alpes, CNRS, Grenoble INP, France",
    "CHU Grenoble Alpes, La Tronche, France",
    "IRIT, Université Paul Sabatier, Toulouse, France",
    "Ifremer, Plouzané, France")

  /** §2.4 concepts_api rebuild (CreateConceptsAPI.ipynb): per-work
    * concept dedup (duplicate structs synthesized on k%4=0 residues),
    * works/citations counts, registry join with wikipedia JSON path
    * parse; registry rows with null wikidata or a merge redirect are
    * excluded. */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val k = col("o_orderkey")
    def cs(id: Column) = struct(id.as("id"),
      concat(lit("Concept "), id.cast("string")).as("display_name"))
    val base = cs(pmod(k, lit(50)))
    val second = cs(pmod(k + 3, lit(50)))
    val works = o.select(k.as("work_id"), pmod(k, lit(23)).as("cited_by_count"),
      when(pmod(k, lit(3)) === 0, array(base, second, base))
        .otherwise(array(base)).as("concepts"))
    val c = t(s, dir, "customer")
    val ck = col("c_custkey")
    val cid = ck - 1
    val registry = c.filter(ck.between(1, 50)).select(cid.as("concept_id"),
      when(pmod(cid, lit(10)) === 9, lit(null).cast("string"))
        .otherwise(concat(lit("Q"), cid.cast("string"))).as("wikidata_id"),
      when(pmod(cid, lit(10)) === 8, ck).as("merge_into_id"),
      pmod(cid, lit(6)).as("level"),
      concat(lit("""{"query":{"pages":[{"original":{"source":"http://img/"""),
        cid.cast("string"),
        lit(""""},"thumbnail":{"source":"http://thumb/"""), cid.cast("string"),
        lit(""""},"terms":{"description":["desc """), cid.cast("string"),
        lit(""""]}}]}}""")).as("wikipedia_json"),
      lit(null).cast("date").as("created_date"))
    graft.entities.Concepts.conceptsApi(works, registry)
      .select(col("id"), col("display_name"), col("level"), col("description"),
        col("wikidata"), col("image_url"), col("image_thumbnail_url"),
        col("works_count"), col("cited_by_count"),
        to_json(col("ids")).as("ids_json"), col("works_api_url"))
  }

  /** §2.4+§2.9 concepts merge enrichment (concepts_merge_output
    * .ipynb): registry join, per-work score-sorted capped concept
    * array, keyword slugs from level>1 concepts, and the tanh-sized
    * dynamic keyword count (2..12) — the oracle reproduces tanh via
    * exp (DuckDB has none; no value in range lands near a rounding
    * boundary). */
  private def q66(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val k = col("o_orderkey")
    val lm = o.select(k.as("work_id"),
      transform(sequence(lit(0L), pmod(k, lit(5))), i =>
        struct(pmod(k + i * 7, lit(50)).as("id"),
          (pmod(k * 7 + i * 13, lit(100)).cast("double") / 100.0).as("score")))
        .as("concepts"))
    val c = t(s, dir, "customer")
    val ck = col("c_custkey")
    val cid = ck - 1
    val registry = c.filter(ck.between(1, 50)).select(cid.as("concept_id"),
      concat(lit("Q"), cid.cast("string")).as("wikidata_id"),
      when(pmod(cid, lit(3)) === 0, concat(lit("Data Science (DS) "), cid.cast("string")))
        .when(pmod(cid, lit(3)) === 1, concat(lit("Alice's Graph Theory "), cid.cast("string")))
        .otherwise(concat(lit("Neural Networks / Deep "), cid.cast("string")))
        .as("display_name"),
      pmod(cid, lit(4)).as("level"))
    graft.entities.Concepts.enrichLmOutput(lm, registry)
      .select(col("work_id"), to_json(col("concepts")).as("concepts_json"),
        to_json(col("keywords")).as("keywords_json"),
        size(col("keywords")).as("n_keywords"))
  }

  /** §2.4 keywords_api rebuild (CreateKeywordsAPI.ipynb): per-work
    * keyword dedup, counts, min-created registry join on the slug
    * stripped of the url prefix. */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val k = col("o_orderkey")
    def ks(id: Column) = struct(
      concat(lit("https://openalex.org/keywords/kw-"), id.cast("string")).as("id"),
      concat(lit("Kw "), id.cast("string")).as("display_name"))
    val works = o.select(k.as("work_id"), pmod(k, lit(19)).as("cited_by_count"),
      when(pmod(k, lit(4)) === 0, array(ks(pmod(k, lit(30))), ks(pmod(k + 5, lit(30)))))
        .otherwise(array(ks(pmod(k, lit(30))))).as("keywords"))
    val c = t(s, dir, "customer")
    val ck = col("c_custkey")
    val registry = c.filter(ck.between(1, 60)).select(
      concat(lit("kw-"), pmod(ck - 1, lit(30)).cast("string")).as("keyword_id"),
      date_add(to_date(lit("2021-01-01")), (ck - 1).cast("int")).as("created_datetime"))
    graft.entities.Concepts.keywordsApi(works, registry)
      .select(col("id"), col("display_name"), col("works_count"),
        col("cited_by_count"), col("works_api_url"),
        date_format(col("created_date"), "yyyy-MM-dd").as("created"))
  }

  /** §2.4 authorship daily metrics (AuthorshipDailyMetrics.py): day-1
    * vs day-2 author-list fingerprints → change events
    * (GREW/SHRANK/NAMES_CHANGED/METADATA_CHANGED by residue) → tall
    * (metric, dimension, value) monitor rows incl. seat and
    * distribution metrics. The oracle derives every count from the
    * synthesis residues directly — no hashes cross the gate. */
  private def q70(s: SparkSession, dir: String): DataFrame = {
    import graft.entities.AuthorshipMetrics
    val o = t(s, dir, "orders")
    val k = col("o_orderkey"); val ks = k.cast("string")
    val n0 = pmod(k, lit(4)) + 1
    val m5 = pmod(k, lit(5))
    def author(i: Column, name: Column, orcid: Column) = struct(
      name.as("raw_author_name"), orcid.as("orcid"),
      (i === 0).as("is_corresponding"))
    def baseAuthor(i: Column) = author(i,
      concat(lit("A"), ks, lit("_"), i.cast("string")),
      when(pmod(i, lit(2)) === 0, concat(lit("O"), ks, lit("_"), i.cast("string"))))
    val base = transform(sequence(lit(0L), n0 - 1), i => baseAuthor(i))
    val extra = author(n0, concat(lit("A"), ks, lit("_"), n0.cast("string")),
      when(pmod(n0, lit(2)) === 0, concat(lit("O"), ks, lit("_"), n0.cast("string"))))
    val day2 = when(m5 === 0, concat(base, array(extra)))
      .when(m5 === 1, slice(base, lit(1), (n0 - 1).cast("int")))
      .when(m5 === 2, transform(base, (a, i) => when(i === 0,
        author(i.cast("long"), concat(lit("B"), ks, lit("_0")),
          a.getField("orcid"))).otherwise(a)))
      .when(m5 === 3, transform(base, (a, i) => when(i === 0,
        author(i.cast("long"), a.getField("raw_author_name"),
          concat(lit("OX"), ks))).otherwise(a)))
      .otherwise(base)
    val n2 = when(m5 === 0, n0 + 1).when(m5 === 1, n0 - 1).otherwise(n0)
    val seats = o.select(k.as("work_id"),
        explode(filter(sequence(lit(0L), lit(5L)), i => i < n2)).as("i"))
      .select(col("work_id"),
        when(pmod(col("work_id") + col("i"), lit(7)) =!= 0,
          concat(lit("AU"), col("work_id").cast("string"), lit("_"),
            col("i").cast("string"))).as("author_id"))
    val fp1 = AuthorshipMetrics.fingerprint(
      o.select(k.as("work_id"), base.as("authorships")), seats)
    val fp2 = AuthorshipMetrics.fingerprint(
      o.select(k.as("work_id"), day2.as("authorships")), seats)
    AuthorshipMetrics.tallMetrics(fp2, AuthorshipMetrics.changeEvents(fp1, fp2))
  }

  /** q78 affiliation-id refinement fixtures: one template per
    * evaluation mechanism of the process_current_affiliation_with_ids
    * port — husk, implication, conditional removal, staged flips,
    * elif chains with fall-through, hospital swaps (cmu expansion and
    * the hand-ported Xiangya block), the Poincaré cross-stage re-add,
    * loose string-triggered rules, and untouched/non-candidate rows. */
  private[queries] val q78Templates: Seq[(String, Seq[Long])] = Seq(
    ("AP-HP Sorbonne University", Seq(-1L, 4210086685L)),
    ("Universidad Pública de Navarra, Pamplona", Seq(88155538L)),
    ("Universidad de Navarra, Pamplona", Seq(175051016L)),
    ("ICES Copenhagen Denmark", Seq(282179226L)),
    ("International Council Secretariat", Seq(282179226L)),
    ("Islamic Azad University, Rasht Branch, Iran",
      Seq(155419210L, 110525433L)),
    ("Islamic Azad University, Science and Research Branch, Tehran",
      Seq(155419210L)),
    ("Islamic Azad University, Science and Research Branch, Tehran",
      Seq(110525433L)),
    ("University Hospital Mannheim, University of Heidelberg, Germany",
      Seq(177802217L)),
    ("University Hospital Mannheim, Germany", Seq(177802217L)),
    ("Second Affiliated Hospital of Harbin Medical University, Harbin",
      Seq(4210156501L)),
    ("Second Xiangya Hospital, Central South University, Changsha",
      Seq(4210159865L)),
    ("Xiangya Hospital, Central South University, Changsha",
      Seq(4210153856L)),
    ("Institut Henri Poincaré, Paris", Seq(51178685L)),
    ("Université Henri Poincaré, Nancy", Seq(51178685L)),
    ("Mohammed V University, Rabat, Morocco", Seq()),
    ("AIIMS Bhubaneswar, India", Seq(63739035L)),
    ("Laval University, Quebec", Seq(49663120L)),
    ("University of Maryland, Baltimore County", Seq(116545467L)),
    ("Twitter @research", Seq(113979032L)),
    ("Purdue University Fort Wayne", Seq(2801333002L)),
    ("Brown University and Providence College",
      Seq(27804330L, 196272386L)),
    ("China University of Geosciences, Wuhan",
      Seq(3124059619L, 3125743391L)),
    ("Department of Physics, Unrelated University", Seq(7L, 99L)),
    ("LCPC Paris", Seq(142631665L)),
    ("Hochschule Hannover medizinische Fakultät", Seq(140025399L)))

  /** §2.9 AffiliationRefine (q78): the staged second-pass cascade on
    * a fixed template rotation; the oracle re-evaluates the same rule
    * table with [[graft.entities.AffiliationRefineRules.oracleSql]]'s
    * generic DuckDB evaluator. */
  private def q78(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val k = col("c_custkey")
    val n = q78Templates.size
    val aff = elt(((pmod(k, lit(n)) + 1).cast("int") +:
      q78Templates.map(x => lit(x._1))): _*)
    val ids = q78Templates.zipWithIndex
      .foldLeft(lit(null).cast("array<bigint>")) { case (acc, ((_, v), i)) =>
        when(pmod(k, lit(n)) === i, typedlit(v)).otherwise(acc)
      }
    // author_seq varies: a constant would fold to a literal grouping
    // key and defeat the cross-stage partitioning reuse (1 exchange
    // for all 8 stages vs 8) that the operator is designed for
    val affil = c.select(k.as("work_id"),
      pmod(k, lit(3)).cast("int").as("author_seq"),
      aff.as("affiliation_string"), ids.as("institution_ids"))
    graft.entities.AffiliationRefine.refine(affil)
      .select(col("work_id"), col("author_seq"),
        col("affiliation_string"),
        to_json(col("institution_ids")).as("institution_ids"))
  }

  private def q78Oracle: String = {
    val n = q78Templates.size
    val affCase = q78Templates.zipWithIndex.map { case ((a, _), i) =>
      s"WHEN $i THEN '" + a.replace("'", "''") + "'"
    }.mkString(" ")
    val idsCase = q78Templates.zipWithIndex.map { case ((_, v), i) =>
      s"WHEN $i THEN CAST(" + v.mkString("[", ",", "]") + " AS BIGINT[])"
    }.mkString(" ")
    graft.entities.AffiliationRefineRules.oracleSql(
      s"""SELECT c_custkey AS work_id,
         |  CAST(c_custkey % 3 AS INT) AS author_seq,
         |  CASE (c_custkey % $n) $affCase END AS aff,
         |  CASE (c_custkey % $n) $idsCase END AS ids FROM customer""".stripMargin)
  }

  private def q64(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val k = col("c_custkey")
    val affil = c.select(k.as("work_id"), lit(0).as("author_seq"),
      elt(((pmod(k, lit(q64Templates.size)) + 1).cast("int") +:
        q64Templates.map(lit)): _*).as("affiliation_string"))
    graft.entities.AffiliationMatcher
      .matchInstitutions(affil, graft.entities.AffiliationRules.df(s))
      .join(affil, Seq("work_id", "author_seq"))
      .select(col("work_id"), col("affiliation_string"),
        to_json(col("institution_ids")).as("institution_ids"))
  }

  private def q64Oracle: String = {
    val list = q64Templates.map(x => "'" + x.replace("'", "''") + "'")
      .mkString("[", ", ", "]")
    s"""WITH affil AS (SELECT c_custkey AS work_id,
       |  ($list)[(c_custkey % ${q64Templates.size}) + 1] AS affiliation_string
       |  FROM customer),
       |n AS (SELECT work_id, affiliation_string,
       |  trim(regexp_replace(regexp_replace(lower(affiliation_string),
       |    '[^\\p{L}\\p{N} ]', ' ', 'g'), ' +', ' ', 'g')) AS nrm
       |  FROM affil),
       |rules(institution_id, block_token, pattern, word, require, exclude) AS (VALUES
       |${graft.entities.AffiliationRules.sqlValues}),
       |hits AS (SELECT DISTINCT n.work_id, r.institution_id
       |  FROM n JOIN rules r
       |    ON contains(' ' || n.nrm || ' ', ' ' || r.block_token || ' ')
       |   AND (CASE WHEN r.word THEN contains(' ' || n.nrm || ' ', ' ' || r.pattern || ' ')
       |        ELSE contains(n.nrm, r.pattern) END)
       |   AND (r.require IS NULL OR regexp_matches(n.nrm, r.require))
       |   AND (r.exclude IS NULL OR NOT regexp_matches(n.nrm, r.exclude)))
       |SELECT n.work_id, n.affiliation_string,
       |  CAST(to_json(coalesce(
       |    list_sort(list(h.institution_id) FILTER (h.institution_id IS NOT NULL)),
       |    CAST([] AS BIGINT[]))) AS VARCHAR) AS institution_ids
       |FROM n LEFT JOIN hits h ON n.work_id = h.work_id
       |GROUP BY n.work_id, n.affiliation_string""".stripMargin
  }

  /** §2 metrics: the quality-judge APPLY task (q84,
    * AuthorshipQualityJudgeApply.sql): structured-verdict extraction
    * from the judge's JSON, per-(date, arm) delete-insert idempotency
    * (stale same-date rows vanish, other dates survive), the ORCID
    * mint-collision self-join arm, and the four tall rollups incl.
    * the cost formula. The judge call is the stubbed model boundary:
    * deterministic JSON synthesized per row. */
  private def q84(s: SparkSession, dir: String): DataFrame = {
    import graft.entities.QualityJudge
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val ck = col("c_custkey")
    val runDate = to_date(lit("2024-01-05"))
    def outJson(v: Column, conf: Column) = concat(lit("{\"verdict\": \""), v,
      lit("\", \"confidence\": \""), conf, lit("\"}"))
    val confOf = (k: Column) => element_at(
      array(lit("high"), lit("medium"), lit("low")), (pmod(k, lit(3)) + 1).cast("int"))
    val promptsA = c.filter(pmod(ck, lit(3)) =!= 0).select(
      ck.cast("long").as("work_id"), pmod(ck, lit(5)).cast("int").as("author_sequence"),
      concat(lit("tier"), pmod(ck, lit(3))).as("tier"),
      (ck + 500000L).as("existing_author_id"),
      concat(lit("N"), pmod(ck, lit(40))).as("raw_author_name"),
      pmod(ck, lit(100)).cast("long").as("primary_source_id"),
      concat(lit("A"), repeat(lit("x"), pmod(ck, lit(37)).cast("int"))).as("prompt"))
      .withColumn("out", outJson(element_at(array(lit("same_person"),
        lit("different_person"), lit("cannot_determine")),
        (pmod(col("work_id"), lit(3)) + 1).cast("int")), confOf(col("work_id"))))
    val ok = col("o_orderkey")
    val promptsB = o.filter(pmod(ok, lit(4)) === 1).select(
      ok.as("work_id"), pmod(ok, lit(6)).cast("int").as("author_sequence"),
      concat(lit("A"), ok % 97, lit(",A"), ok % 89).as("cand_author_ids"),
      concat(lit("M"), pmod(ok, lit(40))).as("raw_author_name"),
      pmod(ok, lit(100)).cast("long").as("primary_source_id"),
      concat(lit("B"), repeat(lit("y"), pmod(ok, lit(53)).cast("int"))).as("prompt"))
      .withColumn("out", outJson(element_at(array(lit("candidate_1"),
        lit("candidate_2"), lit("candidate_3"), lit("candidate_4"),
        lit("candidate_5"), lit("none_correct"), lit("cannot_determine")),
        (pmod(col("work_id"), lit(7)) + 1).cast("int")), confOf(col("work_id"))))
    val authors = c.select(ck.cast("long").as("id"),
      when(pmod(ck, lit(2)) === 0, concat(lit("orc"), pmod(ck, lit(200))))
        .otherwise(lit(null).cast("string")).as("orcid"),
      date_add(to_date(lit("2024-01-01")), pmod(ck, lit(10)).cast("int"))
        .as("created_date"))
    val fresh = QualityJudge.armA(promptsA, runDate)
      .unionByName(QualityJudge.armB(promptsB, runDate))
      .unionByName(QualityJudge.orcidCollisions(authors, runDate))
    // pre-existing sample: STALE same-date armA rows (must vanish) and
    // an older date's rows (must survive)
    val older = QualityJudge.armA(
      promptsA.withColumn("out", outJson(lit("same_person"), lit("low"))),
      to_date(lit("2024-01-04")))
    val staleSame = QualityJudge.armA(
      promptsA.withColumn("out", outJson(lit("cannot_determine"), lit("low"))),
      runDate)
    val landed = QualityJudge.landSample(older.unionByName(staleSame), fresh)
    val totals = landed.groupBy(col("arm"), col("sample_date"))
      .agg(count(lit(1)).as("value"))
      .select(lit("sample_total").as("metric"),
        concat_ws("|", col("arm"), col("sample_date")).as("dimension"),
        col("value"))
    QualityJudge.rollups(landed, promptsA, promptsB, runDate)
      .unionByName(totals)
  }

  /** aer name-conflict overmerge estimation (q85,
    * EstimateNameConflictOvermerges.ipynb): pass-1 conflict flags
    * (surname-swap filter, hyphen folding, ≤2-char initials), core
    * identity election with deterministic tiebreaks, per-work
    * outliers via names_compatible, and the coauthor cross-indexing
    * filter. Authors ≡0 (mod 4) rotate through all 7 name variants
    * (conflicted); others see only the compatible jason/j pair. */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.aer.NameConflicts
    val c = t(s, dir, "customer")
    val ck = col("c_custkey")
    val author = pmod(ck, lit(113))
    val variant = when(pmod(author, lit(4)) === 0, pmod(ck, lit(7)))
      .otherwise(pmod(ck, lit(2)))
    val wa1 = c.select(ck.cast("long").as("work_id"),
      author.cast("long").as("author_id"),
      concat(lit("raw"), variant).as("raw_author_name"))
    val coRaw = when(pmod(ck, lit(5)) === 0, lit("raw0")).otherwise(lit("raw7"))
    val wa = wa1.unionByName(c.select(ck.cast("long").as("work_id"),
      (pmod(ck, lit(113)) + 1000L).as("author_id"), coRaw.as("raw_author_name")))
    val parsed = Seq(
      ("raw0", "jason", null, 0, "priem"),
      ("raw1", "j", null, 0, "priem"),
      ("raw2", "jason", "r", 1, "priem"),
      ("raw3", "joseph", null, 0, "priem"),
      ("raw4", "yi-ting", null, 0, "priem"),
      ("raw5", "yiting", null, 0, "priem"),
      ("raw6", "priem", null, 0, "priem"),
      ("raw7", "maria", null, 0, "garcia"))
      .toDF("raw_author_name", "normalized_first", "middle_initials",
        "middle_initial_count", "normalized_last")
    val names = wa1.join(parsed, Seq("raw_author_name"))
      .select(col("author_id"), col("work_id"), col("normalized_first"),
        col("middle_initials"), col("middle_initial_count"),
        col("normalized_last"))
    val conflicted = NameConflicts.conflictedAuthors(names)
    val core = NameConflicts.coreIdentity(names, conflicted)
    val outliers = NameConflicts.outlierWorks(names, core)
    val genuine = NameConflicts.genuineOutliers(outliers, wa, parsed)
    val oCnt = outliers.groupBy(col("author_id"))
      .agg(count(lit(1)).as("n_outliers"))
    val gCnt = genuine.groupBy(col("author_id"))
      .agg(count(lit(1)).as("n_genuine"))
    conflicted.join(oCnt, Seq("author_id"), "left")
      .join(gCnt, Seq("author_id"), "left")
      .select(col("author_id"), col("distinct_full_firsts"),
        col("distinct_middles"), col("total_works"),
        coalesce(col("n_outliers"), lit(0L)).as("n_outliers"),
        coalesce(col("n_genuine"), lit(0L)).as("n_genuine"))
  }

  /** Funder alias merge (q86, MergeFunders.ipynb): name absorption
    * into the winner's alternate_titles, the loser merge_into_id
    * tombstone, edge remap, and the awards-raw identity recompute
    * with the duplicate drop. The award-id mint is pinned to a
    * DuckDB-computable injective formula (PaywallSignals convention —
    * the faithful xxhash64 default stays the production path). */
  private def q86(s: SparkSession, dir: String): DataFrame = {
    import graft.entities.FunderMerge
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val nk = col("n_nationkey")
    val funders = n.select(nk.cast("long").as("funder_id"),
      concat(lit("F"), nk).as("display_name"),
      when(pmod(nk, lit(5)) === 0, lit(null).cast("string"))
        .otherwise(concat(lit("[\"alt"), nk, lit("\"]"))).as("alternate_titles"),
      lit(null).cast("long").as("merge_into_id"))
    val mint = (f: org.apache.spark.sql.Column, a: org.apache.spark.sql.Column) =>
      pmod(f * 1000000L + substring(a, 3, 10).cast("long"), lit(9000000000L))
    val ck = col("c_custkey")
    val award = when(pmod(ck, lit(2)) === 0,
      concat(lit("AW"), pmod(ck, lit(97))))
      .otherwise(concat(lit("aw"), pmod(ck, lit(97))))
    val raw0 = c.select(pmod(ck, lit(25)).cast("long").as("funder_id"),
        award.as("funder_award_id"),
        concat(lit("p"), pmod(ck, lit(3))).as("provenance"))
      .withColumn("id", mint(col("funder_id"), col("funder_award_id")))
    val edges0 = o.select(col("o_orderkey").as("work_id"),
      pmod(col("o_orderkey"), lit(25)).cast("long").as("funder_id"))
    val mergedF = FunderMerge.mergeFunderRows(funders, 7L, 12L)
    val raw1 = FunderMerge.remapAwardsRaw(raw0, 7L, 12L, mint)
    val edges1 = FunderMerge.remapEdges(edges0, 7L, 12L)
    mergedF
      .join(raw1.groupBy(col("funder_id")).agg(count(lit(1)).as("n_awards")),
        Seq("funder_id"), "left")
      .join(edges1.groupBy(col("funder_id")).agg(count(lit(1)).as("n_edges")),
        Seq("funder_id"), "left")
      .select(col("funder_id"), col("display_name"), col("alternate_titles"),
        col("merge_into_id"), coalesce(col("n_awards"), lit(0L)).as("n_awards"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
  }

  /** §2.2/§2.3 author curation maintenance (SyncAuthorNameCurations +
    * ApplyAuthorName/OrcidCurations): the latest-event curation dedup
    * (two name events per ck%6 author, a third NULL-name deletion event
    * for ck%18) feeding the null-safe pending-changes diffs — name via
    * COALESCE(curated, organic) under `<=>`, ORCID via the set-beats-
    * remove cascade (empty-string curated ignored, removal only nulls a
    * still-matching organic), displayed-vs-organic drift arms covering
    * both null sides — plus the per-author distinct works-enqueued
    * rollup. */
  private def q91(s: SparkSession, dir: String): DataFrame = {
    import graft.authors.Curations
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val ck = col("c_custkey")
    val organicName =
      when(ck % 17 =!= 5, concat(lit("Name "), (ck % 40).cast("string")))
    val organicOrcid =
      when(ck % 13 =!= 2, concat(lit("0000-"), (ck % 23).cast("string")))
    val authors = c.filter(ck < 300).select(ck.cast("long").as("id"),
      organicName.as("display_name"), organicOrcid.as("orcid"))
    val displayed = c.filter(ck < 300).select(ck.cast("long").as("id"),
      when(ck % 9 === 0, concat(lit("Cur "), ck.cast("string")))
        .when(ck % 9 === 3, lit(null).cast("string"))
        .otherwise(organicName).as("display_name"),
      when(ck % 11 === 0, concat(lit("0000-D"), ck.cast("string")))
        .when(ck % 11 === 4, lit(null).cast("string"))
        .otherwise(organicOrcid).as("orcid"))
    def ev(filt: Column, name: Column, created: String) =
      c.filter(ck < 300 && filt).select(ck.cast("long").as("author_id"),
        name.as("new_display_name"), lit(created).cast("date").as("created"))
    val nameCur = Curations.latestCurations(
      ev(ck % 6 === 0, concat(lit("Old "), ck.cast("string")), "2024-01-01")
        .unionByName(ev(ck % 6 === 0, concat(lit("Cur "), ck.cast("string")),
          "2024-02-01"))
        .unionByName(ev(ck % 18 === 0, lit(null).cast("string"),
          "2024-03-01")),
      "new_display_name")
      .withColumnRenamed("new_display_name", "curated_display_name")
    val orcidCur = c.filter(ck < 300 && ck % 5 === 0).select(
      ck.cast("long").as("author_id"),
      when(ck % 15 === 0, lit("")).when(ck % 15 === 5,
        concat(lit("0000-C"), ck.cast("string"))).as("curated_orcid"),
      when(ck % 20 === 0, concat(lit("0000-"), (ck % 23).cast("string")))
        .when(ck % 20 === 10, lit("0000-X")).as("removed_orcid"))
    val namePending =
      Curations.namesPendingChanges(authors, displayed, nameCur)
    val orcidPending =
      Curations.orcidPendingChanges(authors, displayed, orcidCur)
    val k = col("o_orderkey")
    val workAuthors = o.select(k.as("work_id"),
      pmod(k, lit(300)).cast("long").as("author_id"))
    val we = Curations.worksEnqueued(
      namePending.unionByName(orcidPending).distinct(), workAuthors)
    namePending.withColumn("name_pending", lit(1))
      .join(orcidPending.withColumn("orcid_pending", lit(1)),
        Seq("author_id"), "full_outer")
      .join(we, Seq("author_id"), "left")
      .select(col("author_id"),
        coalesce(col("name_pending"), lit(0)).as("name_pending"),
        coalesce(col("orcid_pending"), lit(0)).as("orcid_pending"),
        coalesce(col("works_enqueued"), lit(0L)).as("works_enqueued"))
  }

  /** §2.4/§2.5 author full-name maintenance (UpdateAuthorFullNames
    * .ipynb): evidence build over five attested variant arms per author
    * (dominant full-first / initial / credential-junk for even authors;
    * dominant with middle / doubled-token junk / suffixed for odd) plus
    * curated overrides, then the enrich/reset cascade — current-name
    * arms (ck%8) cover initial→full enrich, middle-initial→full enrich
    * with the suffix gain deciding the rank, curated tie-break,
    * fill_missing (NULL and unparseable-last), pollution_reset, the
    * particle guard negative, the raw==current negative, and the
    * suffix-conflict negative. The oracle re-derives parses from the
    * construction rules and recomputes gains/ranks structurally. */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    import graft.authors.FullNames
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val ck = col("c_custkey")
    val Lc = expr("char(65 + CAST(c_custkey % 26 AS INT))")
    val lastN = concat(lit("Last"), Lc)
    val wrongN = concat(lit("Wrong"), Lc)
    val fam = c.filter(ck < 26) // custkeys start at 0: exactly one row per letter
    def pRow(raw: Column, f: Column, m: Column, l: Column,
        sfx: Column): DataFrame =
      fam.select(raw.as("raw_author_name"),
        struct(f.as("first"), m.as("middle"), l.as("last"),
          sfx.as("suffix")).as("parsed_name"))
    val nS = lit(null).cast("string")
    val parsed = pRow(concat(lit("Johnathan "), lastN), lit("Johnathan"), nS,
        lastN, nS)
      .unionByName(pRow(concat(lit("John Michael "), lastN), lit("John"),
        lit("Michael"), lastN, nS))
      .unionByName(pRow(concat(lit("J. "), lastN), lit("J."), nS, lastN, nS))
      .unionByName(pRow(concat(lit("John Michael "), lastN, lit(" Jr.")),
        lit("John"), lit("Michael"), lastN, lit("Jr.")))
      .unionByName(pRow(concat(lit("John Micheal "), lastN, lit(" Jr.")),
        lit("John"), lit("Micheal"), lastN, lit("Jr.")))
      .unionByName(pRow(concat(lit("J. van der "), lastN), lit("J."), nS,
        lastN, nS))
      .unionByName(pRow(concat(lit("John M. "), lastN), lit("John"),
        lit("M."), lastN, nS))
      .unionByName(pRow(concat(lit("Alpha "), wrongN), lit("Alpha"), nS,
        wrongN, nS))
      .unionByName(pRow(concat(lit("John John "), lastN), lit("John"), nS,
        lastN, nS))
      .unionByName(pRow(concat(lit("Dr. Johnathan "), lastN),
        lit("Johnathan"), nS, lastN, nS))
      .unionByName(c.filter(ck === 1).select(
        lit("Junk1234").as("raw_author_name"),
        struct(lit("Junk").as("first"), nS.as("middle"), lit("").as("last"),
          nS.as("suffix")).as("parsed_name")))

    val k = col("o_orderkey")
    val a = pmod(k, lit(120))
    val La = expr("char(65 + CAST(o_orderkey % 120 % 26 AS INT))")
    val aLast = concat(lit("Last"), La)
    val v = pmod(expr("o_orderkey div 240"), lit(5))
    val pad = pmod(expr("o_orderkey div 2"), lit(2)) === 1
    val evenRaw = when(v <= 2, concat(lit("Johnathan "), aLast))
      .when(v === 3, when(pad, concat(lit(" J. "), aLast, lit(" ")))
        .otherwise(concat(lit("J. "), aLast)))
      .otherwise(concat(lit("Dr. Johnathan "), aLast))
    val oddRaw = when(v <= 2, concat(lit("John Michael "), aLast))
      .when(v === 3, concat(lit("John John "), aLast))
      .otherwise(concat(lit("John Michael "), aLast, lit(" Jr.")))
    val staging = o.filter(pmod(k, lit(97)) =!= 0).select(
      concat(lit("https://openalex.org/A"), a.cast("string")).as("author_id"),
      when(pmod(a, lit(2)) === 0, evenRaw).otherwise(oddRaw)
        .as("raw_author_name"))
    val curations = c.filter(ck < 120 && ck % 24 === 1).select(
        ck.cast("long").as("author_id"),
        concat(lit("John Micheal Last"), Lc, lit(" Jr."))
          .as("curated_display_name"))
      .unionByName(c.filter(ck < 120 && ck % 24 === 13).select(
        ck.cast("long").as("author_id"), lit("").as("curated_display_name")))
    val m = ck % 8
    val authors = c.filter(ck < 120).select(ck.cast("long").as("id"),
      when(m === 0, concat(lit(" J. Last"), Lc))
        .when(m === 1, concat(lit("John M. Last"), Lc))
        .when(m === 2, nS)
        .when(m === 3, lit("Junk1234"))
        .when(m === 4, concat(lit("Johnathan Last"), Lc))
        .when(m === 5, concat(lit("Alpha Wrong"), Lc))
        .when(m === 6, concat(lit("J. van der Last"), Lc))
        .otherwise(concat(lit("John Michael Last"), Lc, lit(" Jr.")))
        .as("full_name"))
    // r17: `parsed` (the 11-arm parsed-name dictionary union) stands in
    // for the STORED author_names table — cached per (dir, JVM) like
    // q97's fixture tables; the evidence frame and pendingChanges'
    // multi-consumer internals land at Materialize boundaries (the
    // reference stores evidence as a table), cutting the plan replay
    // that dominated this query's bench time (3× evidence, 2× flagged).
    val parsedT = graft.core.Materialize.cachedTemp(
      s"q92fix-parsed:$dir", s)(parsed)
    val cut = (df: org.apache.spark.sql.DataFrame) =>
      graft.core.Materialize.temp(df)._1
    val ev = cut(FullNames.evidence(staging, curations, parsedT))
    FullNames.pendingChanges(ev, authors, parsedT, boundary = cut)
      .select(col("author_id"), col("old_full_name"), col("new_full_name"),
        col("reason"), col("support_n").cast("long").as("support_n"))
  }

  /** §2.1/§2.3 work-author curation apply (ApplyWorkAuthorCurations
    * .ipynb): the claim MERGE with latest-wins fan-in (a k%10==0
    * conflict pair resolved by created DESC, a k%10==5 exact-timestamp
    * tie resolved by curation_id DESC), the no-op-claim guard (k%45==0
    * claims the already-bound author → updated_at untouched), a ghost
    * claim on a nonexistent seat, NULL-seat binding, then the DISTINCT
    * removal MERGE (duplicate disclaims collapsed; a removal can null
    * BOTH seats when their author ids coincide — k%600==0). */
  private def q94(s: SparkSession, dir: String): DataFrame = {
    import graft.authors.WorkAuthorCurations
    val o = t(s, dir, "orders")
    val k = col("o_orderkey"); val ks = k.cast("string")
    val baseAt = lit("2024-01-01").cast("timestamp")
    val now = lit("2024-03-01").cast("timestamp")
    val seat1 = o.select(k.as("work_id"), lit(1).as("author_sequence"),
      concat(lit("Auth "), pmod(k, lit(50)).cast("string"))
        .as("raw_author_name"),
      when(pmod(k, lit(9)) =!= 4, pmod(k, lit(300))).as("author_id"),
      baseAt.as("updated_at"))
    val seat2 = o.select(k.as("work_id"), lit(2).as("author_sequence"),
      concat(lit("Co "), pmod(k, lit(40)).cast("string"))
        .as("raw_author_name"),
      pmod(k, lit(200)).as("author_id"), baseAt.as("updated_at"))
    val workAuthors = seat1.unionByName(seat2)
    val claimable = o.filter(pmod(k, lit(5)) === 0)
    val baseClaims = claimable.select(k.as("work_id"),
      concat(lit("Auth "), pmod(k, lit(50)).cast("string"))
        .as("raw_author_name"),
      when(pmod(k, lit(45)) === 0, pmod(k, lit(300)))
        .otherwise(lit(9000) + pmod(k, lit(20))).as("author_id"),
      lit("2024-02-01").cast("timestamp").as("created"),
      k.as("curation_id"))
    val conflictClaims = claimable.filter(pmod(k, lit(10)) === 0).select(
      k.as("work_id"),
      concat(lit("Auth "), pmod(k, lit(50)).cast("string"))
        .as("raw_author_name"),
      (lit(9100) + pmod(k, lit(20))).as("author_id"),
      lit("2024-02-15").cast("timestamp").as("created"),
      (k + 1).as("curation_id"))
    val tieClaims = claimable.filter(pmod(k, lit(10)) === 5).select(
      k.as("work_id"),
      concat(lit("Auth "), pmod(k, lit(50)).cast("string"))
        .as("raw_author_name"),
      (lit(9200) + pmod(k, lit(20))).as("author_id"),
      lit("2024-02-01").cast("timestamp").as("created"),
      (k + 1).as("curation_id"))
    val ghostClaims = claimable.filter(pmod(k, lit(7)) === 0).select(
      k.as("work_id"), lit("Ghost").as("raw_author_name"),
      lit(1L).as("author_id"),
      lit("2024-02-20").cast("timestamp").as("created"),
      (k + 2).as("curation_id"))
    val claims = baseClaims.unionByName(conflictClaims)
      .unionByName(tieClaims).unionByName(ghostClaims)
    val removals = o.filter(pmod(k, lit(6)) === 0).select(
        k.as("work_id"), pmod(k, lit(200)).as("author_id"))
      .unionByName(o.filter(pmod(k, lit(6)) === 0).select(
        k.as("work_id"), pmod(k, lit(200)).as("author_id")))
      .unionByName(o.filter(pmod(k, lit(6)) === 0 && pmod(k, lit(13)) === 0)
        .select(k.as("work_id"), lit(99999L).as("author_id")))
    val afterClaims =
      WorkAuthorCurations.applyClaims(workAuthors, claims, now)
    WorkAuthorCurations.applyRemovals(afterClaims, removals, now)
      .select(col("work_id"), col("author_sequence"),
        col("raw_author_name"), col("author_id"),
        (col("updated_at") === now).cast("int").as("touched"))
  }

  /** §2.4/§2.1 RAS curation sync (SyncRasCurations.ipynb): the
    * action-pivot to add/remove id arrays (three pairs per string —
    * one remove residue, two adds), the append-only upsert MERGE (no
    * by-source delete: the local-only 'RAS X' row survives), and the
    * latest-curation timestamp carry. */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    import graft.entities.RasCurations
    val c = t(s, dir, "customer")
    val ck = col("c_custkey")
    val pairs = c.filter(ck < 240).select(
      concat(lit("RAS "), (ck % 80).cast("string"))
        .as("raw_affiliation_string"),
      (ck % 60 + 1).cast("long").as("institution_id"),
      when(ck % 3 === 0, "remove").otherwise("add").as("action"),
      date_add(lit("2024-01-01").cast("date"), (ck % 30).cast("int"))
        .cast("timestamp").as("created"))
    val target = c.filter(ck < 40).select(
        concat(lit("RAS "), ck.cast("string")).as("raw_affiliation_string"),
        array(lit(999L)).as("curated_add_ids"),
        array().cast("array<bigint>").as("curated_remove_ids"),
        lit("2023-12-01").cast("timestamp").as("latest_curation_at"),
        lit("2023-12-15").cast("timestamp").as("updated_datetime"))
      .unionByName(c.filter(ck === 40).select(
        lit("RAS X").as("raw_affiliation_string"),
        array(lit(7L)).as("curated_add_ids"),
        array().cast("array<bigint>").as("curated_remove_ids"),
        lit("2023-12-01").cast("timestamp").as("latest_curation_at"),
        lit("2023-12-15").cast("timestamp").as("updated_datetime")))
    RasCurations.syncMerge(target, RasCurations.pivot(pairs),
        lit("2024-05-05").cast("timestamp"))
      .select(col("raw_affiliation_string"),
        to_json(col("curated_add_ids")).as("add_json"),
        to_json(col("curated_remove_ids")).as("remove_json"),
        date_format(col("latest_curation_at"), "yyyy-MM-dd").as("latest_d"),
        date_format(col("updated_datetime"), "yyyy-MM-dd").as("updated_d"))
  }

  /** §2.4/§2.1 RAS lookup refresh (RefreshRasWorksCounts.ipynb): the
    * per-string distinct-works count rebuild (duplicate strings within
    * a work dedup; empty/null authorship arms contribute nothing) and
    * the content-hash-gated MERGE across two works generations — gen1
    * seeds the lookup without the k%499==7 works, gen2 restores them,
    * so exactly the strings that gained a work advance refreshed_at
    * (zero-work strings get count 0, not a stale value). */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    import graft.entities.RasCurations
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val ck = col("c_custkey"); val k = col("o_orderkey")
    def aff(strs: Column) = struct(strs.as("raw_affiliation_strings"))
    val s1 = concat(lit("L"), pmod(k, lit(100)).cast("string"))
    val s2 = concat(lit("L"), pmod(k * 3, lit(100)).cast("string"))
    val m3 = pmod(k, lit(3))
    val works = o.select(k.as("id"),
      when(m3 === 0, array(aff(array(s1, s2)), aff(array(s1))))
        .when(m3 === 1, array(aff(array(s1))))
        .when(pmod(k, lit(6)) === 2,
          array(aff(array().cast("array<string>"))))
        .as("authorships"))
    val mv = c.filter(ck < 100).select(
      concat(lit("L"), ck.cast("string")).as("raw_affiliation_string"),
      when(ck % 3 === 0, array((ck + 5).cast("long"), (ck + 1).cast("long")))
        .otherwise(array(ck.cast("long"))).as("institution_ids"),
      when(ck % 2 === 0, array((ck + 9).cast("long")))
        .otherwise(array().cast("array<bigint>"))
        .as("model_institution_ids"))
    val emptyTarget = mv.filter(lit(false)).select(
      col("raw_affiliation_string"), col("institution_ids"),
      col("model_institution_ids"), lit(0L).as("works_count"),
      lit(null).cast("string").as("content_hash"),
      lit(null).cast("timestamp").as("refreshed_at"))
    val gen1 = RasCurations.refreshLookup(emptyTarget, mv,
      RasCurations.worksCounts(works.filter(pmod(k, lit(499)) =!= 7)),
      lit("2024-01-10").cast("timestamp"))
    RasCurations.refreshLookup(gen1, mv, RasCurations.worksCounts(works),
        lit("2024-02-20").cast("timestamp"))
      .select(col("raw_affiliation_string"),
        to_json(sort_array(col("institution_ids"))).as("iif_json"),
        to_json(sort_array(col("model_institution_ids"))).as("iim_json"),
        col("works_count"),
        date_format(col("refreshed_at"), "yyyy-MM-dd").as("refreshed_d"))
  }

  /** Shared fixture for q97/q98 (UpdateWorkAuthors.ipynb): per-work
    * name-transition arms keyed m = k%12 —
    *  m=0 crossed-seat swap → exact-realign rebinds (k%24==12 adds a
    *      curator-removal that nulls one hypothesis);
    *  m=1 single incompatible (no invalidation) + a seat-3 insert
    *      adopting a legacy author via exact raw (rank-1 over a
    *      duplicate legacy row);
    *  m=2 compatible initial→full transition;
    *  m=3 CJK abstention + one incompatible (count stays 1) + a seat-3
    *      insert adopting via the parsed-name fallback;
    *  m=4 unparsed abstention;
    *  m=5 curated hold on one seat, the other rebinding via legacy
    *      exact;
    *  m=6 legacy candidate occupied by a surviving seat (k%24==18
    *      instead makes the legacy candidate ambiguous, le_n=2);
    *  m=7 three invalidated seats, two exact-realigning to the SAME
    *      donor → multi-receiver nulling;
    *  m=8 drift-admitted work (stale watermark) whose one donor has a
    *      name-incompatible profile → only the other seat rebinds;
    *  m=9 legacy-parsed-tier rebind (profile reachable only through
    *      the authors-table fallback);
    *  m=10/11 untouched (stale, no drift). */
  private def q97Fixture(s: SparkSession, dir: String) = {
    import s.implicits._
    val o = t(s, dir, "orders")
    val k = col("o_orderkey"); val m = pmod(k, lit(12))
    val aff = concat(lit("Aff "), pmod(k, lit(30)).cast("string"))
    val aff2 = concat(lit("Aff2 "), pmod(k, lit(15)).cast("string"))
    val cur1 = when(m.isin(1, 2, 4, 10, 11), "Eve Stone")
      .otherwise("Bob Kim")
    val cur2 = when(m === 0, "Eve Stone").when(m === 7, "Cara Lee")
      .otherwise("Fay Glass")
    val inc0 = when(m.isin(0, 1, 8), "Bob Kim").when(m === 2, "A. Park")
      .when(m === 3, "田中 太郎").when(m === 4, "Zq Unparsed")
      .when(m.isin(5, 6, 9), "Cara Lee").when(m === 7, "Dan Wu")
      .otherwise("Ann Park")
    val inc1 = when(m.isin(0, 7, 8), "Ann Park")
      .when(m.isin(5, 6, 9), "Dan Wu").when(m === 3, "Cara Lee")
      .otherwise(cur1)
    val inc2 = when(m === 7, "Ann Park").otherwise(cur2)
    val nullStrs = lit(null).cast("array<string>")
    def strs(sq: Int): Column = sq match {
      case 0 => when(k % 2 === 0, array(aff, aff2, aff))
        .otherwise(array(aff, aff2))
      case 1 => when(k % 5 === 0, nullStrs).otherwise(array(aff))
      case _ => array(aff)
    }
    def au(name: Column, sq: Int, st: Column) = struct(
      name.as("raw_author_name"), st.as("raw_affiliation_strings"),
      ((k + sq) % 2 === 0).as("is_corresponding"))
    val au3 = au(when(m === 1, "Ann Chen").otherwise("Fay Glass"), 3,
      array(aff))
    val worksBase = o.select(k.as("id"),
      when(m.isin(8, 10, 11), lit("2024-01-01"))
        .otherwise(lit("2024-02-01")).cast("timestamp").as("updated_date"),
      when(m.isin(1, 3), array(au(inc0, 0, strs(0)), au(inc1, 1, strs(1)),
          au(inc2, 2, strs(2)), au3))
        .otherwise(array(au(inc0, 0, strs(0)), au(inc1, 1, strs(1)),
          au(inc2, 2, strs(2)))).as("authorships"))
    def waSeat(sq: Int, name: Column, st: Column) = o.select(
      k.as("work_id"), lit(sq).as("author_sequence"),
      (k * 10 + sq).as("author_id"), name.as("raw_author_name"),
      st.as("raw_affiliation_strings"),
      ((k + sq) % 3 === 0).as("is_corresponding"),
      lit("2023-10-01").cast("timestamp").as("created_at"),
      lit("2023-12-01").cast("timestamp").as("updated_at"))
    val workAuthors = waSeat(0, lit("Ann Park"),
        when(m === 8, array(aff)).otherwise(array(aff, aff2)))
      .unionByName(waSeat(1, cur1, array(aff)))
      .unionByName(waSeat(2, cur2, array(aff)))
    val authorNames = Seq(
      ("Ann Park", "park", "ann"), ("A. Park", "park", "a"),
      ("Bob Kim", "kim", "bob"), ("Cara Lee", "lee", "cara"),
      ("Dan Wu", "wu", "dan"), ("Ann Chen", "chen", "ann"),
      ("Eve Stone", "stone", "eve"), ("Fay Glass", "glass", "fay"),
      ("D Wu Alt", "wu", "dan"), ("F Glass Alt", "glass", "fay"))
      .toDF("raw_author_name", "match_last", "match_first")
      .withColumn("parsed_last", col("match_last"))
      .withColumn("parsed_first", col("match_first"))
    def prof(sq: Int, name: Column) = o.select((k * 10 + sq).as("id"),
      name.as("display_name"), pmod(k, lit(12)).as("__m"),
      lit(sq).as("__s"))
    val profiles = prof(0, when(m === 8, "Fay Glass").otherwise("Ann Park"))
      .unionByName(prof(1, cur1)).unionByName(prof(2, cur2))
    val oa = profiles.filter(!(col("__m") === 9 && col("__s") === 1))
      .select(col("id"), col("display_name"),
        col("display_name").as("full_name"))
    val ar = profiles.select(col("id"), col("display_name"))
    val claims = o.filter(m === 5).select(k.as("work_id"),
      lit("Cara Lee").as("raw_author_name"))
    val removes = o.filter(m === 0 && pmod(k, lit(24)) === 12)
      .select(k.as("work_id"), (k * 10 + 1).as("author_id"))
    def leg(filt: Column, sq: Int, raw: Column, auth: Column) =
      o.filter(filt).select(k.as("work_id"),
        lit(sq).as("author_sequence"), raw.as("raw_author_name"),
        auth.as("author_id"))
    val legacy = leg(m === 1, 1, lit("Ann Chen"), lit(6000) + pmod(k, lit(50)))
      .unionByName(leg(m === 1, 2, lit("Ann Chen"),
        lit(6100) + pmod(k, lit(50))))
      .unionByName(leg(m === 3, 1, lit("F Glass Alt"),
        lit(6500) + pmod(k, lit(50))))
      .unionByName(leg(m === 5, 1, lit("Dan Wu"),
        lit(7000) + pmod(k, lit(50))))
      .unionByName(leg(m === 5, 2, lit("AnyRaw"), k * 10 + 1))
      .unionByName(leg(m === 6, 1, lit("Cara Lee"), k * 10 + 2))
      .unionByName(leg(m === 6, 2, lit("LegacyOk"), k * 10))
      .unionByName(leg(m === 6 && pmod(k, lit(24)) === 18, 3,
        lit("Cara Lee"), lit(999L)))
      .unionByName(leg(m === 9, 1, lit("D Wu Alt"),
        lit(8000) + pmod(k, lit(50))))
      .unionByName(leg(m === 9, 2, lit("LegacyOk2"), k * 10 + 1))
    // The synthesized inputs stand in for STORED tables (works base,
    // work_authors, legacy work_authors are all Delta tables in the
    // reference); materialize them so the pipeline's multiple reads
    // scan files instead of replaying the union-of-arms construction.
    // CACHED per (dir, JVM) — the reference builds these tables ONCE,
    // so rebuilding ~45M fixture rows per plan build (every bench
    // pass of q97 AND q98) measured fixture I/O, not the pipeline; at
    // the sf10-equivalent the fixture writes dominated q98's curve.
    def mat(name: String, df: => DataFrame) =
      graft.core.Materialize.cachedTemp(s"q97fix-$name:$dir", s)(df)
    (mat("worksBase", worksBase), mat("workAuthors", workAuthors),
      authorNames, claims, removes, oa, ar, mat("legacy", legacy))
  }

  /** §2.3/§2.5 the UpdateWorkAuthors guard batch (cell 11): see
    * [[q97Fixture]] for the arm map. Observation-only — the oracle
    * re-derives each arm's verdicts and rebind tiers from the
    * construction. */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    import graft.authors.WorkAuthorGuard
    val (wb, wa, an, cl, rm, oa, ar, lg) = q97Fixture(s, dir)
    // boundaries: the batch feeds the seat capture + judgment + apply,
    // and the flagged frame feeds five cascade consumers — both are
    // multi-consumer stages (the reference lands each as a Delta table).
    // r17 (guide §2.3, project before the exchange/boundary): the GUARD
    // reads only (work_id, author_sequence, raw_author_name) — selecting
    // them before the landing prunes the collect_list(affiliation_
    // structs) and max(updated_date) aggregates out of the batch plan
    // entirely and narrows the landed payload (q98's apply still lands
    // the full batch; it consumes the structs).
    val batch = graft.core.Materialize.temp(WorkAuthorGuard.updateBatch(
        wb, wa, lit("2024-01-15").cast("timestamp"))
      .select(col("work_id"), col("author_sequence"),
        col("raw_author_name")))._1
    WorkAuthorGuard.guardBatch(batch, wa, an, cl, rm, oa, ar, lg,
        boundary = df => graft.core.Materialize.temp(df)._1)
      .select(col("work_id"), col("author_sequence"),
        col("incoming_name"), col("current_name"), col("verdict"),
        col("work_incompat_count"),
        col("curated_hold").cast("int").as("curated"),
        col("invalidate").cast("int").as("inval"),
        col("realign_author_id"), col("legacy_rebind_id"),
        col("rebind_author_id"))
  }

  /** §2.1/§2.3 the UpdateWorkAuthors apply MERGE (cells 7/9/13):
    * matched seats refresh name/strings/is_corresponding with the
    * batch date (author bindings untouched); seat-3 inserts adopt
    * legacy authors (exact-raw rank-1, else parsed fallback); stale
    * no-drift works (m=10/11) pass through unchanged; the m=8 work is
    * admitted purely by string drift. */
  private def q98(s: SparkSession, dir: String): DataFrame = {
    import graft.authors.WorkAuthorGuard
    val (wb, wa, an, _, _, _, _, lg) = q97Fixture(s, dir)
    val batch = graft.core.Materialize.temp(WorkAuthorGuard.updateBatch(
      wb, wa, lit("2024-01-15").cast("timestamp")))._1
    WorkAuthorGuard.applyBatch(wa, batch, wb, an, lg,
        lit("2024-06-01").cast("timestamp"))
      .select(col("work_id"), col("author_sequence"), col("author_id"),
        col("raw_author_name"),
        to_json(sort_array(col("raw_affiliation_strings"))).as("aff_json"),
        col("is_corresponding").cast("int").as("corr"),
        date_format(col("created_at"), "yyyy-MM-dd").as("created_d"),
        date_format(col("updated_at"), "yyyy-MM-dd").as("updated_d"))
  }

  /** AER population-weighted name frequency
    * (CreatePopulationWeightedNameFrequency.ipynb): per-source
    * proportions (Chinese surnames with the Mandarin/Cantonese split,
    * Japanese romaji with an unromanizable row still holding its
    * population share, Korean romanized, census.names per-country
    * weighting with CN/JP/KR exclusion for surnames but KR RETAINED for
    * given names), then the weighted combination. Every count and
    * population in the fixture is dyadic (powers of two) and the split
    * is parameterized to 0.75/0.25, so every double is exact and the
    * sums are order-independent — the oracle recomputes bit-identical
    * values (the reference's 0.93/0.07 defaults stand in production;
    * the parameterization is the documented FP-determinism trade). */
  private def q99(s: SparkSession, dir: String): DataFrame = {
    import graft.aer.NameFrequency
    val c = t(s, dir, "customer")
    val ck = col("c_custkey")
    val world = 8589934592.0 // 2^33
    val chinese = c.filter(ck < 16).select(
      elt((ck + 1).cast("int"), lit("王"), lit("张"), lit("刘"), lit("陈"),
        lit("X4"), lit("X5"), lit("X6"), lit("X7"), lit("X8"), lit("X9"),
        lit("X10"), lit("X11"), lit("X12"), lit("X13"), lit("X14"),
        lit("X15")).as("surname"),
      lit(64L).as("n_total"),
      elt((ck + 1).cast("int"), lit("wang"), lit("zhang"), lit("liu"), lit("chen"),
        lit("sur4"), lit("sur5"), lit("sur6"), lit("sur7"), lit("sur8"),
        lit("sur9"), lit("sur10"), lit("sur11"), lit("sur12"),
        lit("sur13"), lit("sur14"), lit("sur14")).as("romanized"))
    val japanese = c.filter(ck < 8).select(
      concat(lit("K"), ck.cast("string")).as("surname_kanji"),
      lit(128L).as("population"),
      when(ck === 7, "").otherwise(concat(lit("yama"),
        (ck % 4).cast("string"))).as("romanized"))
    val korean = c.filter(ck < 4).select(
      elt((ck + 1).cast("int"), lit("kim"), lit("lee"), lit("park"), lit("choi"))
        .as("romanized"),
      elt((ck + 1).cast("int"), lit(512L), lit(256L), lit(128L), lit(128L))
        .as("population_2015"))
    val censusLast = c.filter(ck < 16).select(
        concat(lit("C"), expr("c_custkey div 4")).as("country_code"),
        elt((ck % 4 + 1).cast("int"), lit("kim"), lit("smith"), lit("garcia"),
          concat(lit("nm"), expr("c_custkey div 4"))).as("name_ascii"),
        elt((ck % 4 + 1).cast("int"), lit(512L), lit(256L), lit(128L), lit(128L))
          .as("frequency"))
      .unionByName(c.filter(ck === 16).select(lit("CN").as("country_code"),
        lit("wang").as("name_ascii"), lit(999L).as("frequency")))
      .unionByName(c.filter(ck === 17).select(lit("C4").as("country_code"),
        lit("zero").as("name_ascii"), lit(100L).as("frequency")))
      .unionByName(c.filter(ck === 18).select(lit("C5").as("country_code"),
        lit("ghost").as("name_ascii"), lit(100L).as("frequency")))
    val countryPop = c.filter(ck < 4).select(
        concat(lit("C"), ck.cast("string")).as("country_code"),
        expr("CAST(pow(2, 30 + c_custkey) AS BIGINT)").as("population"))
      .unionByName(c.filter(ck === 4).select(lit("CN").as("country_code"),
        lit(1L).as("population")))
      .unionByName(c.filter(ck === 5).select(lit("C4").as("country_code"),
        lit(0L).as("population")))
      .unionByName(c.filter(ck === 6).select(lit("KR").as("country_code"),
        lit(268435456L).as("population"))) // 2^28
    val chineseGivenSrc = c.filter(ck < 5).select(
      elt((ck + 1).cast("int"), lit("wei"), lit("li"), lit("fang"), lit("na"), lit(""))
        .as("pinyin_name"),
      elt((ck + 1).cast("int"), lit(512L), lit(256L), lit(128L), lit(128L), lit(1024L))
        .as("n_total"))
    val japaneseGiven = c.filter(ck < 2).select(
      elt((ck + 1).cast("int"), lit("yuki"), lit("hiroshi")).as("name"),
      elt((ck + 1).cast("int"), lit(0.25), lit(0.125)).as("prob"))
    val censusFirst = c.filter(ck < 8).select(
        concat(lit("C"), expr("c_custkey div 4")).as("country_code"),
        elt((ck % 4 + 1).cast("int"), lit("maria"), lit("john"), lit("wei"),
          concat(lit("gn"), expr("c_custkey div 4"))).as("name_ascii"),
        elt((ck % 4 + 1).cast("int"), lit(512L), lit(256L), lit(128L), lit(128L))
          .as("frequency"))
      .unionByName(c.filter(ck >= 8 && ck < 12).select(
        lit("KR").as("country_code"),
        elt((ck - 7).cast("int"), lit("minjun"), lit("seo"), lit("ji"), lit("hye"))
          .as("name_ascii"),
        elt((ck - 7).cast("int"), lit(512L), lit(256L), lit(128L), lit(128L))
          .as("frequency")))
      .unionByName(c.filter(ck === 12).select(lit("CN").as("country_code"),
        lit("x").as("name_ascii"), lit(10L).as("frequency")))
      .unionByName(c.filter(ck === 13).select(lit("JP").as("country_code"),
        lit("y").as("name_ascii"), lit(10L).as("frequency")))
    val chinaW = 0.25; val japanW = 0.015625; val koreaW = 0.00390625
    val lastTable = NameFrequency.combine(Seq(
      NameFrequency.chineseLast(chinese, mandarinPct = 0.75,
        cantonesePct = 0.25) -> chinaW,
      NameFrequency.japaneseLast(japanese) -> japanW,
      NameFrequency.koreanLast(korean) -> koreaW,
      NameFrequency.censusWeighted(censusLast, countryPop, world,
        Seq("CN", "JP", "KR")) -> 1.0), world)
    val givenTable = NameFrequency.combine(Seq(
      NameFrequency.chineseGiven(chineseGivenSrc) -> chinaW,
      japaneseGiven -> japanW,
      NameFrequency.censusWeighted(censusFirst, countryPop, world,
        Seq("CN", "JP")) -> 1.0), world)
    lastTable.withColumn("kind", lit("last"))
      .unionByName(givenTable.withColumn("kind", lit("given")))
      .select(col("kind"), col("name"), col("prob"), col("est_humans"))
  }

  /** §2.4/§2.1 the author_names dictionary build (CreateAuthorNames
    * .ipynb around the q49-gated parser): trim-distinct intake from
    * work author slots (padded duplicates collapse; null/blank names
    * drop) ∪ author full names, anti-known; the oxjob-#608 match keys
    * (punctuation-stripped — 'Cooper-Sarkar' → 'coopersarkar',
    * "O'Brien" → 'obrien'; single-token 'Solo' gets the EMPTY-initial
    * key 'solo;'); and the reparse path — the stale-parse row
    * ('Ann Cooper-Sarkar') refreshes its keys while keeping
    * created_datetime, the parse-equal row with a stored 'WRONG' key
    * keeps it (the merge condition watches parsed_name only). The
    * oracle states the expected dictionary rows from the vocab. */
  private def q104(s: SparkSession, dir: String): DataFrame = {
    import graft.authors.AuthorNames
    import graft.functions.HumanName
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    val ck = col("c_custkey"); val k = col("o_orderkey")
    val vocab = Seq("John Smith", "Smith, John", "Ann Cooper-Sarkar",
      "D. O'Brien", "Eve Stone", "Solo")
    val vname = elt(((pmod(k, lit(6)) + 1).cast("int") +:
      vocab.map(lit(_))): _*)
    def au(n: Column) = struct(n.as("name"))
    val lm = o.select(
      when(k % 13 === 0, array(au(lit(null).cast("string"))))
        .when(k % 11 === 0, array(au(lit("  "))))
        .when(k % 2 === 0, array(au(vname),
          au(concat(lit(" "), vname, lit(" ")))))
        .otherwise(array(au(vname))).as("authors"))
    val oa = c.filter(ck < 50).select(
      when(ck % 3 === 1, concat(lit("Uma Kel"), (ck % 4).cast("string")))
        .otherwise(elt(((ck % 6 + 1).cast("int") +: vocab.map(lit(_))): _*))
        .as("full_name"))
    def pn(f: Column, l: Column) = struct(f.as("first"), l.as("last"))
    val known = c.filter(ck < 3).select(
      elt((ck + 1).cast("int"), lit("John Smith"), lit("Smith, John"),
        lit("Ann Cooper-Sarkar")).as("raw_author_name"),
      when(ck === 2, pn(lit("old"), lit("stale")))
        .otherwise(pn(lit("John"), lit("Smith"))).as("parsed_name"),
      when(ck === 2, lit("stale")).otherwise(lit("smith")).as("match_last"),
      when(ck === 2, lit("old")).otherwise(lit("john")).as("match_first"),
      when(ck === 1, lit("WRONG"))
        .when(ck === 2, lit("stale;o")).otherwise(lit("smith;j"))
        .as("match_key"),
      lit("2023-01-01").cast("timestamp").as("created_datetime"))
    def parse(df: DataFrame): DataFrame =
      AuthorNames.withMatchKeys(df.withColumn("parsed_name", struct(
        HumanName.parse(col("raw_author_name")).getField("given")
          .as("first"),
        HumanName.parse(col("raw_author_name")).getField("family")
          .as("last"))))
    val reparsed = parse(known.select(col("raw_author_name")))
    val afterReparse = AuthorNames.reparseMerge(known, reparsed)
    val appended = parse(AuthorNames.newNames(lm, oa, known))
      .withColumn("created_datetime",
        lit("2024-05-05").cast("timestamp"))
      .select(afterReparse.columns.map(col): _*)
    afterReparse.unionByName(appended)
      .select(col("raw_author_name"), col("match_last"),
        col("match_first"), col("match_key"),
        date_format(col("created_datetime"), "yyyy-MM-dd").as("created_d"))
  }

  val queries: Map[String, Q] = Map(
    "q91_author_curations" -> (q91 _),
    "q92_author_full_names" -> (q92 _),
    "q94_work_author_claims" -> (q94 _),
    "q95_ras_curations_sync" -> (q95 _),
    "q96_ras_lookup_refresh" -> (q96 _),
    "q97_work_author_guard" -> (q97 _),
    "q98_work_author_apply" -> (q98 _),
    "q99_name_frequency" -> (q99 _),
    "q104_author_names_dict" -> (q104 _),
    "q86_funder_merge" -> (q86 _),
    "q85_name_conflict_overmerges" -> (q85 _),
    "q84_quality_judge_apply" -> (q84 _),
    "q64_affiliation_rules" -> (q64 _),
    "q78_affiliation_refine" -> (q78 _),
    "q65_concepts_api" -> (q65 _),
    "q66_keywords_dynamic" -> (q66 _),
    "q67_keywords_api" -> (q67 _),
    "q70_authorship_daily_metrics" -> (q70 _),
    "q58_sources_legacy_snapshot" -> (q58 _),
    "q59_funder_summary_stats" -> (q59 _),
    "q60_institution_lineage" -> (q60 _),
    "q63_wunpaywall_changed_dates" -> (q63 _),
    "q54_author_topics_share" -> (q54 _),
    "q55_author_counts_by_year" -> (q55 _),
    "q49_humanname_parse" -> (q49 _),
    "q50_union_locations_scd1" -> (q50 _),
    "q51_work_id_resolver" -> (q51 _),
    "q52_author_match_cascade" -> (q52 _),
    "q53_authorships_assemble" -> (q53 _))

  private val q91Oracle: String =
    """WITH a AS (SELECT c_custkey AS id,
      |    CASE WHEN c_custkey % 17 <> 5
      |      THEN 'Name ' || CAST(c_custkey % 40 AS VARCHAR) END AS oname,
      |    CASE WHEN c_custkey % 13 <> 2
      |      THEN '0000-' || CAST(c_custkey % 23 AS VARCHAR) END AS oorcid
      |  FROM customer WHERE c_custkey < 300),
      |d AS (SELECT id,
      |    CASE WHEN id % 9 = 0 THEN 'Cur ' || CAST(id AS VARCHAR)
      |         WHEN id % 9 = 3 THEN NULL
      |         ELSE oname END AS dname,
      |    CASE WHEN id % 11 = 0 THEN '0000-D' || CAST(id AS VARCHAR)
      |         WHEN id % 11 = 4 THEN NULL
      |         ELSE oorcid END AS dorcid
      |  FROM a),
      |nc AS (SELECT id AS author_id,
      |    CASE WHEN id % 18 = 0 THEN NULL
      |         ELSE 'Cur ' || CAST(id AS VARCHAR) END AS curated
      |  FROM a WHERE id % 6 = 0),
      |oc AS (SELECT id AS author_id,
      |    CASE WHEN id % 15 = 0 THEN ''
      |         WHEN id % 15 = 5 THEN '0000-C' || CAST(id AS VARCHAR) END
      |      AS curated_orcid,
      |    CASE WHEN id % 20 = 0 THEN '0000-' || CAST(id % 23 AS VARCHAR)
      |         WHEN id % 20 = 10 THEN '0000-X' END AS removed_orcid
      |  FROM a WHERE id % 5 = 0),
      |np AS (SELECT a.id FROM a JOIN d ON a.id = d.id
      |  LEFT JOIN nc ON a.id = nc.author_id
      |  WHERE (nc.author_id IS NOT NULL OR d.dname IS DISTINCT FROM a.oname)
      |    AND d.dname IS DISTINCT FROM coalesce(nc.curated, a.oname)),
      |op AS (SELECT a.id FROM a JOIN d ON a.id = d.id
      |  LEFT JOIN oc ON a.id = oc.author_id
      |  WHERE (oc.author_id IS NOT NULL OR d.dorcid IS DISTINCT FROM a.oorcid)
      |    AND d.dorcid IS DISTINCT FROM (CASE
      |      WHEN oc.curated_orcid IS NOT NULL AND oc.curated_orcid <> ''
      |        THEN oc.curated_orcid
      |      WHEN oc.removed_orcid IS NOT NULL
      |        AND a.oorcid = oc.removed_orcid THEN NULL
      |      ELSE a.oorcid END)),
      |pend AS (SELECT id FROM np UNION SELECT id FROM op),
      |we AS (SELECT CAST(o_orderkey % 300 AS BIGINT) AS author_id,
      |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS works
      |  FROM orders JOIN pend ON o_orderkey % 300 = pend.id GROUP BY 1)
      |SELECT CAST(p.id AS BIGINT) AS author_id,
      |  CASE WHEN np.id IS NOT NULL THEN 1 ELSE 0 END AS name_pending,
      |  CASE WHEN op.id IS NOT NULL THEN 1 ELSE 0 END AS orcid_pending,
      |  coalesce(we.works, 0) AS works_enqueued
      |FROM pend p
      |LEFT JOIN np ON p.id = np.id
      |LEFT JOIN op ON p.id = op.id
      |LEFT JOIN we ON p.id = we.author_id""".stripMargin

  private val q92Oracle: String =
    """WITH auth AS (SELECT c_custkey AS a, c_custkey % 8 AS m,
      |    chr(65 + CAST(c_custkey % 26 AS INTEGER)) AS L
      |  FROM customer WHERE c_custkey < 120),
      |curp AS (SELECT a, m, L,
      |  CASE m WHEN 0 THEN 'J. Last' || L WHEN 1 THEN 'John M. Last' || L
      |         WHEN 3 THEN 'Junk1234' WHEN 4 THEN 'Johnathan Last' || L
      |         WHEN 5 THEN 'Alpha Wrong' || L
      |         WHEN 6 THEN 'J. van der Last' || L
      |         WHEN 7 THEN 'John Michael Last' || L || ' Jr.' END
      |    AS full_name,
      |  CASE m WHEN 0 THEN 'J.' WHEN 1 THEN 'John' WHEN 3 THEN 'Junk'
      |         WHEN 4 THEN 'Johnathan' WHEN 5 THEN 'Alpha' WHEN 6 THEN 'J.'
      |         WHEN 7 THEN 'John' END AS c_first,
      |  CASE m WHEN 1 THEN 'M.' WHEN 7 THEN 'Michael' ELSE '' END
      |    AS c_middle,
      |  CASE m WHEN 0 THEN 'Last' || L WHEN 1 THEN 'Last' || L
      |         WHEN 3 THEN '' WHEN 4 THEN 'Last' || L
      |         WHEN 5 THEN 'Wrong' || L WHEN 6 THEN 'Last' || L
      |         WHEN 7 THEN 'Last' || L END AS c_last,
      |  CASE m WHEN 7 THEN 'Jr.' ELSE '' END AS c_suffix
      |  FROM auth),
      |ev0 AS (SELECT CAST(o_orderkey % 120 AS BIGINT) AS a,
      |    (o_orderkey // 240) % 5 AS v
      |  FROM orders WHERE o_orderkey % 97 <> 0),
      |evr AS (SELECT ev0.a,
      |  CASE WHEN ev0.a % 2 = 0 THEN
      |    CASE WHEN v <= 2 THEN 'Johnathan Last' || au.L
      |         WHEN v = 3 THEN 'J. Last' || au.L
      |         ELSE 'Dr. Johnathan Last' || au.L END
      |  ELSE
      |    CASE WHEN v <= 2 THEN 'John Michael Last' || au.L
      |         WHEN v = 3 THEN 'John John Last' || au.L
      |         ELSE 'John Michael Last' || au.L || ' Jr.' END END AS raw
      |  FROM ev0 JOIN auth au ON ev0.a = au.a),
      |att AS (SELECT a, raw, CAST(count(*) AS BIGINT) AS n
      |  FROM evr GROUP BY a, raw),
      |curt AS (SELECT a, 'John Micheal Last' || L || ' Jr.' AS raw
      |  FROM auth WHERE a % 24 = 1),
      |u AS (SELECT a, raw, sum(n) AS n, bool_or(is_cur) AS is_curated
      |  FROM (SELECT a, raw, n, false AS is_cur FROM att
      |        UNION ALL SELECT a, raw, NULL, true FROM curt)
      |  GROUP BY a, raw),
      |evj AS (SELECT u.a, u.raw, CAST(u.n AS BIGINT) AS n, u.is_curated,
      |  CASE WHEN u.raw LIKE 'Johnathan %' THEN 'Johnathan'
      |       WHEN u.raw LIKE 'Dr. %' THEN 'Johnathan'
      |       WHEN u.raw LIKE 'J. %' THEN 'J.'
      |       ELSE 'John' END AS p_first,
      |  CASE WHEN u.raw LIKE 'John Michael %' THEN 'Michael'
      |       WHEN u.raw LIKE 'John Micheal %' THEN 'Micheal'
      |       ELSE '' END AS p_middle,
      |  'Last' || right(replace(replace(u.raw, ' Jr.', ''), ' ', ''), 1)
      |    AS p_last,
      |  CASE WHEN u.raw LIKE '% Jr.' THEN 'Jr.' ELSE '' END AS p_suffix,
      |  NOT (u.raw LIKE 'Dr.%' OR u.raw LIKE 'John John%') AS is_clean
      |  FROM u),
      |compat AS (SELECT e.a, e.raw, e.n, e.is_curated, e.is_clean,
      |    e.p_suffix, c.full_name, c.c_suffix,
      |    regexp_replace(c.c_first, '[^a-zA-Z]', '', 'g') AS cf,
      |    regexp_replace(e.p_first, '[^a-zA-Z]', '', 'g') AS ef,
      |    regexp_replace(c.c_middle, '[^a-zA-Z]', '', 'g') AS cm,
      |    regexp_replace(e.p_middle, '[^a-zA-Z]', '', 'g') AS em
      |  FROM evj e JOIN curp c ON e.a = c.a
      |  WHERE c.c_last IS NOT NULL AND c.c_last <> ''
      |    AND e.p_last = c.c_last AND e.p_first <> ''
      |    AND c.c_first IS NOT NULL AND c.c_first <> ''
      |    AND substr(e.p_first, 1, 1) = substr(c.c_first, 1, 1)),
      |flag AS (SELECT *,
      |  CASE WHEN ef = cf THEN 0
      |       WHEN length(cf) <= 1 AND length(ef) >= 3 THEN 1 END AS fg,
      |  CASE WHEN em = cm THEN 0
      |       WHEN cm = '' AND em <> '' THEN 1
      |       WHEN length(cm) = 1 AND length(em) >= 3
      |            AND substr(em, 1, 1) = substr(cm, 1, 1) THEN 1 END AS mg,
      |  CASE WHEN coalesce(p_suffix, '') = coalesce(c_suffix, '') THEN 0
      |       WHEN c_suffix = '' AND p_suffix <> ''
      |            AND regexp_replace(lower(p_suffix), '[^a-z]', '', 'g')
      |              IN ('jr','sr','ii','iii','iv','junior') THEN 1 END AS sg
      |  FROM compat),
      |conf AS (SELECT a,
      |  count(DISTINCT CASE WHEN n >= 2 AND em <> ''
      |    THEN substr(em, 1, 1) END) AS dmi,
      |  count(DISTINCT CASE WHEN n >= 2 AND length(ef) >= 3
      |    THEN ef END) AS dff
      |  FROM flag GROUP BY a),
      |enr AS (SELECT a, full_name, raw, is_curated, n,
      |    row_number() OVER (PARTITION BY a ORDER BY (fg+mg+sg) DESC,
      |      is_curated DESC, n DESC NULLS LAST, length(raw) DESC, raw ASC)
      |      AS rk
      |  FROM flag JOIN conf USING (a)
      |  WHERE is_clean AND (n >= 2 OR is_curated)
      |    AND fg IS NOT NULL AND mg IS NOT NULL AND sg IS NOT NULL
      |    AND (fg+mg+sg) >= (CASE WHEN is_curated THEN 0 ELSE 1 END)
      |    AND (fg = 0 OR is_curated OR dff <= 1)
      |    AND (mg = 0 OR is_curated OR dmi <= 1)
      |    AND raw <> full_name
      |    AND (is_curated OR NOT (regexp_matches(full_name,
      |      '(?i)(^| )(van|der|von|de|da|del|della|di|dos|das|du|ter|ten)( |$)')
      |      AND NOT regexp_matches(raw,
      |      '(?i)(^| )(van|der|von|de|da|del|della|di|dos|das|du|ter|ten)( |$)')))),
      |stats AS (SELECT a, sum(n) AS total_n FROM evj
      |  WHERE n IS NOT NULL GROUP BY a),
      |topc AS (SELECT a, raw, n, row_number() OVER (PARTITION BY a
      |    ORDER BY n DESC, length(raw) DESC, raw DESC) AS rn
      |  FROM evj WHERE n IS NOT NULL AND is_clean),
      |lastm AS (SELECT e.a,
      |    max(CASE WHEN e.p_last = c.c_last THEN 1 ELSE 0 END) AS anym
      |  FROM evj e JOIN curp c ON e.a = c.a
      |  WHERE e.n IS NOT NULL GROUP BY e.a),
      |resets AS (SELECT c.a, c.full_name, t.raw,
      |    CASE WHEN c.full_name IS NULL OR c.full_name = ''
      |           OR c.c_last IS NULL OR c.c_last = ''
      |         THEN 'fill_missing' ELSE 'pollution_reset' END AS reason,
      |    t.n
      |  FROM curp c
      |  JOIN stats s ON c.a = s.a
      |  JOIN topc t ON c.a = t.a AND t.rn = 1
      |  LEFT JOIN lastm lm ON c.a = lm.a
      |  WHERE t.n >= 3 AND CAST(t.n AS DOUBLE) / s.total_n >= 0.5
      |    AND (c.full_name IS NULL OR c.full_name = ''
      |         OR c.c_last IS NULL OR c.c_last = ''
      |         OR coalesce(lm.anym, 0) = 0)
      |    AND t.raw IS DISTINCT FROM c.full_name)
      |SELECT CAST(a AS BIGINT) AS author_id, full_name AS old_full_name,
      |  raw AS new_full_name,
      |  CASE WHEN is_curated THEN 'enrich_curated' ELSE 'enrich' END
      |    AS reason,
      |  CAST(n AS BIGINT) AS support_n
      |FROM enr WHERE rk = 1
      |UNION ALL
      |SELECT CAST(a AS BIGINT), full_name, raw, reason, CAST(n AS BIGINT)
      |FROM resets""".stripMargin

  private val q94Oracle: String =
    """WITH w AS (SELECT o_orderkey AS k FROM orders),
      |win AS (SELECT k,
      |    CASE WHEN k % 10 = 0 THEN 9100 + k % 20
      |         WHEN k % 10 = 5 THEN 9200 + k % 20
      |         WHEN k % 45 = 0 THEN k % 300
      |         ELSE 9000 + k % 20 END AS winner
      |  FROM w WHERE k % 5 = 0),
      |s1 AS (SELECT w.k, 'Auth ' || CAST(w.k % 50 AS VARCHAR) AS raw,
      |    CASE WHEN w.k % 9 <> 4 THEN w.k % 300 END AS auth,
      |    win.winner
      |  FROM w LEFT JOIN win ON w.k = win.k),
      |p1 AS (SELECT k, raw,
      |    CASE WHEN winner IS NOT NULL
      |           AND (auth IS NULL OR auth <> winner)
      |      THEN winner ELSE auth END AS auth1,
      |    (winner IS NOT NULL AND (auth IS NULL OR auth <> winner)) AS cl
      |  FROM s1),
      |f1 AS (SELECT k, raw,
      |    CASE WHEN k % 6 = 0 AND auth1 = k % 200 THEN NULL
      |         ELSE auth1 END AS auth,
      |    (cl OR (k % 6 = 0 AND auth1 = k % 200)) AS touched
      |  FROM p1)
      |SELECT CAST(k AS BIGINT) AS work_id, 1 AS author_sequence,
      |  raw AS raw_author_name, CAST(auth AS BIGINT) AS author_id,
      |  CAST(touched AS INTEGER) AS touched
      |FROM f1
      |UNION ALL
      |SELECT CAST(k AS BIGINT), 2, 'Co ' || CAST(k % 40 AS VARCHAR),
      |  CASE WHEN k % 6 = 0 THEN NULL ELSE CAST(k % 200 AS BIGINT) END,
      |  CAST(k % 6 = 0 AS INTEGER)
      |FROM w""".stripMargin

  private val q95Oracle: String =
    """WITH p AS (SELECT 'RAS ' || CAST(c_custkey % 80 AS VARCHAR) AS raw,
      |    CAST(c_custkey % 60 + 1 AS BIGINT) AS inst,
      |    CASE WHEN c_custkey % 3 = 0 THEN 'remove' ELSE 'add' END
      |      AS action,
      |    DATE '2024-01-01' + CAST(c_custkey % 30 AS INTEGER) AS created
      |  FROM customer WHERE c_custkey < 240),
      |piv AS (SELECT raw,
      |    coalesce(CAST(to_json(list(inst ORDER BY inst)
      |      FILTER (WHERE action = 'add')) AS VARCHAR), '[]') AS addj,
      |    coalesce(CAST(to_json(list(inst ORDER BY inst)
      |      FILTER (WHERE action = 'remove')) AS VARCHAR), '[]') AS remj,
      |    max(created) AS latest
      |  FROM p GROUP BY raw)
      |SELECT raw AS raw_affiliation_string, addj AS add_json,
      |  remj AS remove_json, strftime(latest, '%Y-%m-%d') AS latest_d,
      |  '2024-05-05' AS updated_d
      |FROM piv
      |UNION ALL
      |SELECT 'RAS X', CAST(to_json([CAST(7 AS BIGINT)]) AS VARCHAR), '[]',
      |  '2023-12-01', '2023-12-15'""".stripMargin

  private val q96Oracle: String =
    """WITH sw AS (
      |  SELECT DISTINCT o_orderkey AS k,
      |    'L' || CAST(o_orderkey % 100 AS VARCHAR) AS s
      |  FROM orders WHERE o_orderkey % 3 IN (0, 1)
      |  UNION
      |  SELECT o_orderkey, 'L' || CAST((o_orderkey * 3) % 100 AS VARCHAR)
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |cnt AS (SELECT s, CAST(count(*) AS BIGINT) AS wc FROM sw GROUP BY s),
      |chg AS (SELECT DISTINCT s FROM sw WHERE k % 499 = 7),
      |mv AS (SELECT c_custkey AS ck, 'L' || CAST(c_custkey AS VARCHAR)
      |    AS raw
      |  FROM customer WHERE c_custkey < 100)
      |SELECT raw AS raw_affiliation_string,
      |  CASE WHEN ck % 3 = 0 THEN CAST(to_json(
      |      [CAST(ck + 1 AS BIGINT), CAST(ck + 5 AS BIGINT)]) AS VARCHAR)
      |    ELSE CAST(to_json([CAST(ck AS BIGINT)]) AS VARCHAR) END
      |    AS iif_json,
      |  CASE WHEN ck % 2 = 0 THEN CAST(to_json([CAST(ck + 9 AS BIGINT)])
      |      AS VARCHAR)
      |    ELSE '[]' END AS iim_json,
      |  coalesce(cnt.wc, 0) AS works_count,
      |  CASE WHEN chg.s IS NOT NULL THEN '2024-02-20' ELSE '2024-01-10' END
      |    AS refreshed_d
      |FROM mv
      |LEFT JOIN cnt ON mv.raw = cnt.s
      |LEFT JOIN chg ON mv.raw = chg.s""".stripMargin

  /** names_compatible v2 transcribed VERBATIM from
    * UpdateWorkAuthors.ipynb cell 3 into DuckDB SQL — emitted at each
    * call site so the q97 oracle RECOMPUTES compatibility instead of
    * stating verdicts per arm. */
  private def ncSql(al: String, af: String, bl: String, bf: String,
      ar: String, br: String): String =
    s"""COALESCE(CASE
       |    WHEN $al IS NULL OR $bl IS NULL
       |      THEN lower(trim($ar)) = lower(trim($br))
       |    WHEN $al = $bl AND (left($af,1) = left($bf,1)
       |      OR $af IS NULL OR $bf IS NULL) THEN TRUE
       |    WHEN $al = $bf AND $af = $bl THEN TRUE
       |    WHEN (starts_with($al, $bl) OR ends_with($al, $bl)
       |       OR starts_with($bl, $al) OR ends_with($bl, $al))
       |     AND least(length($al), length($bl)) >= 4
       |     AND (left($af,1) = left($bf,1) OR $af IS NULL OR $bf IS NULL)
       |     THEN TRUE
       |    ELSE FALSE END, FALSE)""".stripMargin

  private val cjkClass: String =
    "[\\x{1100}-\\x{11FF}\\x{3040}-\\x{30FF}\\x{3130}-\\x{318F}" +
    "\\x{3400}-\\x{4DBF}\\x{4E00}-\\x{9FFF}\\x{AC00}-\\x{D7AF}" +
    "\\x{F900}-\\x{FAFF}]"

  /** Recomputation oracle for q97: rebuilds the fixture inputs
    * (seats, batch names, dictionary, profiles, legacy, curations) as
    * CTEs and re-runs the WHOLE guard dataflow in SQL — drift
    * admission, changed-seat detection, the three-state verdict with
    * the transcribed cell-3 predicate, >=2-incompatible invalidation
    * with curated holds, freed-donor profile compatibility, the
    * exact/unique-compat realign tiers, the fused legacy exact/parsed
    * tiers, and the occupied / curator-removed / multi-receiver
    * nulling. Nothing is hand-stated per arm. */
  private val q97Oracle: String = {
    val compatJudge = ncSql("in_last", "in_first", "cur_last",
      "cur_first", "inc_name", "cur_name")
    val compatDonor = ncSql("i.cur_last", "i.cur_first",
      "CASE WHEN pd.ml IS NOT NULL THEN pd.ml ELSE pf.ml END",
      "CASE WHEN pd.ml IS NOT NULL THEN pd.mf ELSE pf.mf END",
      "i.cur_name", "p.prof_dn")
    val compatRealign = ncSql("i.in_last", "i.in_first", "f.donor_last",
      "f.donor_first", "i.inc_name", "f.donor_name")
    s"""WITH w AS (SELECT o_orderkey AS k, o_orderkey % 12 AS m,
       |    'Aff ' || (o_orderkey % 30) AS a1,
       |    'Aff2 ' || (o_orderkey % 15) AS a2 FROM orders),
       |base_slots AS (
       |  SELECT k, 0 AS seq, a1 AS rs FROM w
       |  UNION ALL SELECT k, 0, a2 FROM w
       |  UNION ALL SELECT k, 1, a1 FROM w WHERE k % 5 <> 0
       |  UNION ALL SELECT k, 2, a1 FROM w
       |  UNION ALL SELECT k, 3, a1 FROM w WHERE m IN (1, 3)),
       |wa_slots AS (
       |  SELECT k, 0 AS seq, a1 AS rs FROM w
       |  UNION ALL SELECT k, 0, a2 FROM w WHERE m <> 8
       |  UNION ALL SELECT k, 1, a1 FROM w
       |  UNION ALL SELECT k, 2, a1 FROM w),
       |drift AS (SELECT DISTINCT b.k FROM base_slots b
       |  LEFT JOIN wa_slots sl
       |    ON b.k = sl.k AND b.seq = sl.seq AND b.rs = sl.rs
       |  WHERE sl.k IS NULL),
       |adm AS (SELECT w.k, w.m FROM w LEFT JOIN drift d ON w.k = d.k
       |  WHERE (CASE WHEN w.m IN (8, 10, 11) THEN TIMESTAMP '2024-01-01'
       |          ELSE TIMESTAMP '2024-02-01' END) > TIMESTAMP '2024-01-15'
       |     OR d.k IS NOT NULL),
       |inc AS (
       |  SELECT k, m, 0 AS seq,
       |    CASE WHEN m IN (0,1,8) THEN 'Bob Kim' WHEN m = 2 THEN 'A. Park'
       |         WHEN m = 3 THEN '田中 太郎' WHEN m = 4 THEN 'Zq Unparsed'
       |         WHEN m IN (5,6,9) THEN 'Cara Lee' WHEN m = 7 THEN 'Dan Wu'
       |         ELSE 'Ann Park' END AS name FROM adm
       |  UNION ALL SELECT k, m, 1,
       |    CASE WHEN m IN (0,7,8) THEN 'Ann Park'
       |         WHEN m IN (5,6,9) THEN 'Dan Wu' WHEN m = 3 THEN 'Cara Lee'
       |         WHEN m IN (1,2,4,10,11) THEN 'Eve Stone'
       |         ELSE 'Bob Kim' END FROM adm
       |  UNION ALL SELECT k, m, 2,
       |    CASE WHEN m = 7 THEN 'Ann Park' WHEN m = 0 THEN 'Eve Stone'
       |         ELSE 'Fay Glass' END FROM adm),
       |cur AS (
       |  SELECT k, m, 0 AS seq, 'Ann Park' AS name, k*10 AS auth FROM adm
       |  UNION ALL SELECT k, m, 1,
       |    CASE WHEN m IN (1,2,4,10,11) THEN 'Eve Stone'
       |         ELSE 'Bob Kim' END, k*10+1 FROM adm
       |  UNION ALL SELECT k, m, 2,
       |    CASE WHEN m = 0 THEN 'Eve Stone' WHEN m = 7 THEN 'Cara Lee'
       |         ELSE 'Fay Glass' END, k*10+2 FROM adm),
       |names(raw, ml, mf) AS (VALUES
       |  ('Ann Park','park','ann'), ('A. Park','park','a'),
       |  ('Bob Kim','kim','bob'), ('Cara Lee','lee','cara'),
       |  ('Dan Wu','wu','dan'), ('Ann Chen','chen','ann'),
       |  ('Eve Stone','stone','eve'), ('Fay Glass','glass','fay'),
       |  ('D Wu Alt','wu','dan'), ('F Glass Alt','glass','fay')),
       |chg AS (
       |  SELECT i.k, i.m, i.seq, i.name AS inc_name, c.name AS cur_name,
       |    c.auth AS cur_auth, nin.ml AS in_last, nin.mf AS in_first,
       |    ncu.ml AS cur_last, ncu.mf AS cur_first
       |  FROM inc i JOIN cur c ON i.k = c.k AND i.seq = c.seq
       |  LEFT JOIN names nin ON trim(i.name) = nin.raw
       |  LEFT JOIN names ncu ON trim(c.name) = ncu.raw
       |  WHERE lower(trim(i.name)) <> lower(trim(c.name))),
       |judged AS (
       |  SELECT *, CASE
       |      WHEN regexp_matches(inc_name, '$cjkClass')
       |        OR regexp_matches(cur_name, '$cjkClass') THEN 'ABSTAIN_CJK'
       |      WHEN in_last IS NULL OR cur_last IS NULL
       |        THEN 'ABSTAIN_UNPARSED'
       |      WHEN $compatJudge THEN 'COMPATIBLE'
       |      ELSE 'INCOMPATIBLE' END AS verdict
       |  FROM chg),
       |cnted AS (SELECT *,
       |    count(CASE WHEN verdict = 'INCOMPATIBLE' THEN 1 END)
       |      OVER (PARTITION BY k) AS cnt FROM judged),
       |claims AS (SELECT k, 'Cara Lee' AS raw FROM w WHERE m = 5),
       |inv AS (SELECT j.*,
       |    EXISTS(SELECT 1 FROM claims cl WHERE cl.k = j.k
       |      AND lower(trim(cl.raw)) = lower(trim(j.inc_name)))
       |      AS curated_hold,
       |    (j.verdict = 'INCOMPATIBLE' AND j.cnt >= 2
       |      AND NOT EXISTS(SELECT 1 FROM claims cl WHERE cl.k = j.k
       |        AND lower(trim(cl.raw)) = lower(trim(j.inc_name))))
       |      AS inval
       |  FROM cnted j),
       |profx AS (
       |  SELECT pid, dn AS prof_dn,
       |    CASE WHEN m = 9 AND seq = 1 THEN NULL ELSE dn END AS prof_fn
       |  FROM (
       |    SELECT k, m, 0 AS seq, k*10 AS pid,
       |      CASE WHEN m = 8 THEN 'Fay Glass' ELSE 'Ann Park' END AS dn
       |    FROM w
       |    UNION ALL SELECT k, m, 1, k*10+1,
       |      CASE WHEN m IN (1,2,4,10,11) THEN 'Eve Stone'
       |           ELSE 'Bob Kim' END FROM w
       |    UNION ALL SELECT k, m, 2, k*10+2,
       |      CASE WHEN m = 0 THEN 'Eve Stone' WHEN m = 7 THEN 'Cara Lee'
       |           ELSE 'Fay Glass' END FROM w)),
       |freed AS (
       |  SELECT i.k, i.cur_name AS donor_name, i.cur_auth AS donor_id,
       |    i.cur_last AS donor_last, i.cur_first AS donor_first
       |  FROM inv i
       |  LEFT JOIN profx p ON i.cur_auth = p.pid
       |  LEFT JOIN names pd ON trim(p.prof_dn) = pd.raw
       |  LEFT JOIN names pf ON trim(p.prof_fn) = pf.raw
       |  WHERE i.inval AND $compatDonor),
       |rcand AS (
       |  SELECT i.k, i.seq,
       |    count(DISTINCT CASE WHEN lower(trim(f.donor_name)) =
       |      lower(trim(i.inc_name)) THEN f.donor_id END) AS n_exact,
       |    min(CASE WHEN lower(trim(f.donor_name)) =
       |      lower(trim(i.inc_name)) THEN f.donor_id END) AS id_exact,
       |    count(DISTINCT CASE WHEN $compatRealign
       |      THEN f.donor_id END) AS n_compat,
       |    min(CASE WHEN $compatRealign THEN f.donor_id END) AS id_compat
       |  FROM inv i JOIN freed f ON i.k = f.k
       |  WHERE i.inval GROUP BY i.k, i.seq),
       |rchosen AS (SELECT k, seq, chosen,
       |    count(*) OVER (PARTITION BY k, chosen) AS n_recv
       |  FROM (SELECT k, seq,
       |      CASE WHEN n_exact = 1 THEN id_exact
       |           WHEN n_exact = 0 AND n_compat = 1 THEN id_compat END
       |        AS chosen FROM rcand)
       |  WHERE chosen IS NOT NULL),
       |leg AS (
       |  SELECT k, 'Ann Chen' AS raw, 6000 + k % 50 AS auth
       |  FROM w WHERE m = 1
       |  UNION ALL SELECT k, 'Ann Chen', 6100 + k % 50 FROM w WHERE m = 1
       |  UNION ALL SELECT k, 'F Glass Alt', 6500 + k % 50 FROM w WHERE m = 3
       |  UNION ALL SELECT k, 'Dan Wu', 7000 + k % 50 FROM w WHERE m = 5
       |  UNION ALL SELECT k, 'AnyRaw', k*10 + 1 FROM w WHERE m = 5
       |  UNION ALL SELECT k, 'Cara Lee', k*10 + 2 FROM w WHERE m = 6
       |  UNION ALL SELECT k, 'LegacyOk', k*10 FROM w WHERE m = 6
       |  UNION ALL SELECT k, 'Cara Lee', 999
       |  FROM w WHERE m = 6 AND k % 24 = 18
       |  UNION ALL SELECT k, 'D Wu Alt', 8000 + k % 50 FROM w WHERE m = 9
       |  UNION ALL SELECT k, 'LegacyOk2', k*10 + 1 FROM w WHERE m = 9),
       |legd AS (SELECT l.k, lower(trim(l.raw)) AS l_raw, l.auth AS l_auth,
       |    pn.ml AS pn_last, pn.mf AS pn_first
       |  FROM leg l LEFT JOIN names pn ON trim(l.raw) = pn.raw),
       |lstat AS (
       |  SELECT i.k, i.seq,
       |    bool_or(d.l_auth = i.cur_auth) AS lok,
       |    min(CASE WHEN d.l_raw = lower(trim(i.inc_name))
       |      THEN d.l_auth END) AS le_id,
       |    count(DISTINCT CASE WHEN d.l_raw = lower(trim(i.inc_name))
       |      THEN d.l_auth END) AS le_n,
       |    min(CASE WHEN i.in_last IS NOT NULL AND d.pn_last = i.in_last
       |      AND coalesce(d.pn_first,'') = coalesce(i.in_first,'')
       |      THEN d.l_auth END) AS lp_id,
       |    count(DISTINCT CASE WHEN i.in_last IS NOT NULL
       |      AND d.pn_last = i.in_last
       |      AND coalesce(d.pn_first,'') = coalesce(i.in_first,'')
       |      THEN d.l_auth END) AS lp_n
       |  FROM inv i JOIN legd d ON i.k = d.k
       |  WHERE i.inval GROUP BY i.k, i.seq),
       |wr AS (
       |  SELECT v.*,
       |    CASE WHEN rc.n_recv = 1 THEN rc.chosen END AS realign_id,
       |    coalesce(ls.lok, FALSE) AS lok,
       |    CASE WHEN ls.le_n = 1 THEN ls.le_id
       |         WHEN ls.le_n = 0 AND ls.lp_n = 1 THEN ls.lp_id END
       |      AS legacy_id
       |  FROM inv v
       |  LEFT JOIN rchosen rc ON v.k = rc.k AND v.seq = rc.seq
       |  LEFT JOIN lstat ls ON v.k = ls.k AND v.seq = ls.seq),
       |wr2 AS (SELECT *, coalesce(realign_id,
       |    CASE WHEN lok THEN legacy_id END) AS cand FROM wr),
       |occ AS (SELECT DISTINCT c.k, c.auth FROM cur c
       |  LEFT JOIN (SELECT k, seq FROM inv WHERE inval) x
       |    ON c.k = x.k AND c.seq = x.seq
       |  WHERE x.k IS NULL),
       |rm AS (SELECT k, k*10+1 AS auth FROM w WHERE m = 0 AND k % 24 = 12)
       |SELECT CAST(f.k AS BIGINT) AS work_id,
       |  CAST(f.seq AS INTEGER) AS author_sequence,
       |  f.inc_name AS incoming_name, f.cur_name AS current_name,
       |  f.verdict, CAST(f.cnt AS BIGINT) AS work_incompat_count,
       |  CAST(f.curated_hold AS INTEGER) AS curated,
       |  CAST(f.inval AS INTEGER) AS inval,
       |  CAST(f.realign_id AS BIGINT) AS realign_author_id,
       |  CAST(f.legacy_id AS BIGINT) AS legacy_rebind_id,
       |  CAST(CASE WHEN f.cand IS NULL THEN NULL
       |       WHEN EXISTS(SELECT 1 FROM occ o
       |         WHERE o.k = f.k AND o.auth = f.cand) THEN NULL
       |       WHEN EXISTS(SELECT 1 FROM rm r
       |         WHERE r.k = f.k AND r.auth = f.cand) THEN NULL
       |       WHEN count(*) OVER (PARTITION BY f.k, f.cand) > 1 THEN NULL
       |       ELSE f.cand END AS BIGINT) AS rebind_author_id
       |FROM wr2 f""".stripMargin
  }

  /** Recomputation oracle for q98: the drift admission and the
    * two-pass legacy author adoption (exact-raw rank-1 over duplicate
    * legacy rows, else parsed-key rank-1) are re-derived in SQL from
    * the reconstructed inputs — only the fixture's own name/flag CASE
    * chains are restated. */
  private val q98Oracle: String =
    """WITH w AS (SELECT o_orderkey AS k, o_orderkey % 12 AS m,
      |    'Aff ' || CAST(o_orderkey % 30 AS VARCHAR) AS a1,
      |    'Aff2 ' || CAST(o_orderkey % 15 AS VARCHAR) AS a2
      |  FROM orders),
      |base_slots AS (
      |  SELECT k, 0 AS seq, a1 AS rs FROM w
      |  UNION ALL SELECT k, 0, a2 FROM w
      |  UNION ALL SELECT k, 1, a1 FROM w WHERE k % 5 <> 0
      |  UNION ALL SELECT k, 2, a1 FROM w
      |  UNION ALL SELECT k, 3, a1 FROM w WHERE m IN (1, 3)),
      |wa_slots AS (
      |  SELECT k, 0 AS seq, a1 AS rs FROM w
      |  UNION ALL SELECT k, 0, a2 FROM w WHERE m <> 8
      |  UNION ALL SELECT k, 1, a1 FROM w
      |  UNION ALL SELECT k, 2, a1 FROM w),
      |drift AS (SELECT DISTINCT b.k FROM base_slots b
      |  LEFT JOIN wa_slots sl
      |    ON b.k = sl.k AND b.seq = sl.seq AND b.rs = sl.rs
      |  WHERE sl.k IS NULL),
      |adm AS (SELECT w.* FROM w LEFT JOIN drift d ON w.k = d.k
      |  WHERE (CASE WHEN w.m IN (8, 10, 11) THEN TIMESTAMP '2024-01-01'
      |          ELSE TIMESTAMP '2024-02-01' END) > TIMESTAMP '2024-01-15'
      |     OR d.k IS NOT NULL),
      |names(raw, pl, pf) AS (VALUES
      |  ('Ann Park','park','ann'), ('A. Park','park','a'),
      |  ('Bob Kim','kim','bob'), ('Cara Lee','lee','cara'),
      |  ('Dan Wu','wu','dan'), ('Ann Chen','chen','ann'),
      |  ('Eve Stone','stone','eve'), ('Fay Glass','glass','fay'),
      |  ('D Wu Alt','wu','dan'), ('F Glass Alt','glass','fay')),
      |leg AS (
      |  SELECT k, 1 AS seq, 'Ann Chen' AS raw,
      |    CAST(6000 + k % 50 AS BIGINT) AS auth FROM w WHERE m = 1
      |  UNION ALL SELECT k, 2, 'Ann Chen', 6100 + k % 50 FROM w WHERE m = 1
      |  UNION ALL SELECT k, 1, 'F Glass Alt', 6500 + k % 50
      |  FROM w WHERE m = 3
      |  UNION ALL SELECT k, 1, 'Dan Wu', 7000 + k % 50 FROM w WHERE m = 5
      |  UNION ALL SELECT k, 2, 'AnyRaw', k*10 + 1 FROM w WHERE m = 5
      |  UNION ALL SELECT k, 1, 'Cara Lee', k*10 + 2 FROM w WHERE m = 6
      |  UNION ALL SELECT k, 2, 'LegacyOk', k*10 FROM w WHERE m = 6
      |  UNION ALL SELECT k, 3, 'Cara Lee', 999
      |  FROM w WHERE m = 6 AND k % 24 = 18
      |  UNION ALL SELECT k, 1, 'D Wu Alt', 8000 + k % 50 FROM w WHERE m = 9
      |  UNION ALL SELECT k, 2, 'LegacyOk2', k*10 + 1 FROM w WHERE m = 9),
      |lwa_name AS (SELECT k, lraw, auth FROM (
      |  SELECT k, lower(trim(raw)) AS lraw, auth, row_number() OVER (
      |    PARTITION BY k, lower(trim(raw)) ORDER BY seq) AS rn FROM leg)
      |  WHERE rn = 1),
      |lwa_parsed AS (SELECT k, pl, pf, auth FROM (
      |  SELECT l.k, n.pl, n.pf, l.auth, row_number() OVER (
      |    PARTITION BY l.k, n.pl, n.pf ORDER BY l.seq) AS rn
      |  FROM leg l JOIN names n ON trim(l.raw) = n.raw
      |  WHERE n.pl IS NOT NULL AND n.pl <> '') WHERE rn = 1),
      |ins AS (SELECT k, m, a1,
      |    CASE WHEN m = 1 THEN 'Ann Chen' ELSE 'Fay Glass' END AS raw
      |  FROM adm WHERE m IN (1, 3)),
      |adopt AS (
      |  SELECT i.k, i.m, i.a1, i.raw,
      |    coalesce(ln.auth,
      |      CASE WHEN ln.auth IS NULL THEN lp.auth END) AS auth
      |  FROM ins i
      |  LEFT JOIN lwa_name ln
      |    ON i.k = ln.k AND lower(trim(i.raw)) = ln.lraw
      |  LEFT JOIN names sn ON trim(i.raw) = sn.raw
      |  LEFT JOIN lwa_parsed lp
      |    ON i.k = lp.k AND sn.pl = lp.pl AND sn.pf = lp.pf),
      |outp AS (
      |  SELECT k, 0 AS seq, k*10 AS auth,
      |    CASE WHEN m IN (0, 1, 8) THEN 'Bob Kim'
      |         WHEN m = 2 THEN 'A. Park' WHEN m = 3 THEN '田中 太郎'
      |         WHEN m = 4 THEN 'Zq Unparsed'
      |         WHEN m IN (5, 6, 9) THEN 'Cara Lee'
      |         ELSE 'Dan Wu' END AS raw,
      |    CAST(to_json([a1, a2]) AS VARCHAR) AS affj,
      |    CAST(k % 2 = 0 AS INTEGER) AS corr,
      |    '2023-10-01' AS created_d,
      |    CASE WHEN m = 8 THEN '2024-01-01' ELSE '2024-02-01' END
      |      AS updated_d
      |  FROM adm
      |  UNION ALL
      |  SELECT k, 1, k*10+1,
      |    CASE WHEN m IN (0, 7, 8) THEN 'Ann Park'
      |         WHEN m IN (5, 6, 9) THEN 'Dan Wu'
      |         WHEN m = 3 THEN 'Cara Lee'
      |         ELSE 'Eve Stone' END,
      |    CASE WHEN k % 5 = 0 THEN '[]'
      |         ELSE CAST(to_json([a1]) AS VARCHAR) END,
      |    CAST((k + 1) % 2 = 0 AS INTEGER), '2023-10-01',
      |    CASE WHEN m = 8 THEN '2024-01-01' ELSE '2024-02-01' END
      |  FROM adm
      |  UNION ALL
      |  SELECT k, 2, k*10+2,
      |    CASE WHEN m = 7 THEN 'Ann Park' WHEN m = 0 THEN 'Eve Stone'
      |         ELSE 'Fay Glass' END,
      |    CAST(to_json([a1]) AS VARCHAR),
      |    CAST(k % 2 = 0 AS INTEGER), '2023-10-01',
      |    CASE WHEN m = 8 THEN '2024-01-01' ELSE '2024-02-01' END
      |  FROM adm
      |  UNION ALL
      |  SELECT k, 3, auth, raw, CAST(to_json([a1]) AS VARCHAR),
      |    CAST((k + 3) % 2 = 0 AS INTEGER), '2024-06-01', '2024-02-01'
      |  FROM adopt
      |  UNION ALL
      |  SELECT k, 0, k*10, 'Ann Park', CAST(to_json([a1, a2]) AS VARCHAR),
      |    CAST(k % 3 = 0 AS INTEGER), '2023-10-01', '2023-12-01'
      |  FROM w WHERE m >= 10
      |  UNION ALL
      |  SELECT k, 1, k*10+1, 'Eve Stone', CAST(to_json([a1]) AS VARCHAR),
      |    CAST((k + 1) % 3 = 0 AS INTEGER), '2023-10-01', '2023-12-01'
      |  FROM w WHERE m >= 10
      |  UNION ALL
      |  SELECT k, 2, k*10+2, 'Fay Glass', CAST(to_json([a1]) AS VARCHAR),
      |    CAST((k + 2) % 3 = 0 AS INTEGER), '2023-10-01', '2023-12-01'
      |  FROM w WHERE m >= 10)
      |SELECT CAST(k AS BIGINT) AS work_id,
      |  CAST(seq AS INTEGER) AS author_sequence,
      |  CAST(auth AS BIGINT) AS author_id, raw AS raw_author_name,
      |  affj AS aff_json, corr, created_d, updated_d
      |FROM outp""".stripMargin

  private val q99Oracle: String =
    """WITH cks AS (SELECT CAST(c_custkey AS INTEGER) AS ck FROM customer),
      |chl AS (SELECT nm AS name, sum(n) / 1024.0 AS prob FROM (
      |    SELECT ['wang','zhang','liu','chen','sur4','sur5','sur6','sur7',
      |        'sur8','sur9','sur10','sur11','sur12','sur13','sur14',
      |        'sur14'][ck + 1] AS nm,
      |      CASE WHEN ck < 4 THEN 64 * 0.75 ELSE 64 END AS n
      |    FROM cks WHERE ck < 16
      |    UNION ALL
      |    SELECT ['wong','cheung','lau','chan'][ck + 1], 64 * 0.25
      |    FROM cks WHERE ck < 4)
      |  GROUP BY nm),
      |jpl AS (SELECT 'yama' || CAST(ck % 4 AS VARCHAR) AS name,
      |    sum(128) / 1024.0 AS prob
      |  FROM cks WHERE ck < 7 GROUP BY 1),
      |krl AS (SELECT ['kim','lee','park','choi'][ck + 1] AS name,
      |    CAST([512,256,128,128][ck + 1] AS DOUBLE) / 1024.0 AS prob
      |  FROM cks WHERE ck < 4),
      |cwl AS (SELECT name, sum(p) AS prob FROM (
      |    SELECT ['kim','smith','garcia',
      |        'nm' || CAST(ck // 4 AS VARCHAR)][ck % 4 + 1] AS name,
      |      CAST([512,256,128,128][ck % 4 + 1] AS DOUBLE) / 1024.0 *
      |        [0.125, 0.25, 0.5, 1.0][(ck // 4) + 1] AS p
      |    FROM cks WHERE ck < 16)
      |  GROUP BY name),
      |lastt AS (SELECT name, sum(p) AS prob FROM (
      |    SELECT name, prob * 0.25 AS p FROM chl
      |    UNION ALL SELECT name, prob * 0.015625 FROM jpl
      |    UNION ALL SELECT name, prob * 0.00390625 FROM krl
      |    UNION ALL SELECT name, prob FROM cwl)
      |  GROUP BY name),
      |cgv AS (SELECT ['wei','li','fang','na'][ck + 1] AS name,
      |    CAST([512,256,128,128][ck + 1] AS DOUBLE) / 2048.0 AS prob
      |  FROM cks WHERE ck < 4),
      |jgv AS (SELECT ['yuki','hiroshi'][ck + 1] AS name,
      |    [0.25, 0.125][ck + 1] AS prob
      |  FROM cks WHERE ck < 2),
      |cwg AS (SELECT name, sum(p) AS prob FROM (
      |    SELECT ['maria','john','wei',
      |        'gn' || CAST(ck // 4 AS VARCHAR)][ck % 4 + 1] AS name,
      |      CAST([512,256,128,128][ck % 4 + 1] AS DOUBLE) / 1024.0 *
      |        [0.125, 0.25][(ck // 4) + 1] AS p
      |    FROM cks WHERE ck < 8
      |    UNION ALL
      |    SELECT ['minjun','seo','ji','hye'][ck - 7],
      |      CAST([512,256,128,128][ck - 7] AS DOUBLE) / 1024.0 * 0.03125
      |    FROM cks WHERE ck BETWEEN 8 AND 11)
      |  GROUP BY name),
      |givent AS (SELECT name, sum(p) AS prob FROM (
      |    SELECT name, prob * 0.25 AS p FROM cgv
      |    UNION ALL SELECT name, prob * 0.015625 FROM jgv
      |    UNION ALL SELECT name, prob FROM cwg)
      |  GROUP BY name)
      |SELECT 'last' AS kind, name, prob,
      |  CAST(floor(prob * 8589934592.0 + 0.5) AS BIGINT) AS est_humans
      |FROM lastt
      |UNION ALL
      |SELECT 'given', name, prob,
      |  CAST(floor(prob * 8589934592.0 + 0.5) AS BIGINT)
      |FROM givent""".stripMargin

  private val q104Oracle: String =
    """SELECT * FROM (VALUES
      |  ('John Smith', 'smith', 'john', 'smith;j', '2023-01-01'),
      |  ('Smith, John', 'smith', 'john', 'WRONG', '2023-01-01'),
      |  ('Ann Cooper-Sarkar', 'coopersarkar', 'ann', 'coopersarkar;a',
      |   '2023-01-01'),
      |  ('D. O''Brien', 'obrien', 'd', 'obrien;d', '2024-05-05'),
      |  ('Eve Stone', 'stone', 'eve', 'stone;e', '2024-05-05'),
      |  ('Solo', 'solo', NULL, 'solo;', '2024-05-05'),
      |  ('Uma Kel0', 'kel', 'uma', 'kel;u', '2024-05-05'),
      |  ('Uma Kel1', 'kel', 'uma', 'kel;u', '2024-05-05'),
      |  ('Uma Kel2', 'kel', 'uma', 'kel;u', '2024-05-05'),
      |  ('Uma Kel3', 'kel', 'uma', 'kel;u', '2024-05-05'))
      |AS t(raw_author_name, match_last, match_first, match_key,
      |  created_d)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q91_author_curations" -> q91Oracle,
    "q92_author_full_names" -> q92Oracle,
    "q94_work_author_claims" -> q94Oracle,
    "q95_ras_curations_sync" -> q95Oracle,
    "q96_ras_lookup_refresh" -> q96Oracle,
    "q97_work_author_guard" -> q97Oracle,
    "q98_work_author_apply" -> q98Oracle,
    "q99_name_frequency" -> q99Oracle,
    "q104_author_names_dict" -> q104Oracle,
    "q86_funder_merge" ->
      """WITH f AS (SELECT CAST(n_nationkey AS BIGINT) AS fid,
        |    'F' || n_nationkey AS dn,
        |    CASE WHEN n_nationkey % 5 = 0 THEN NULL
        |         ELSE '["alt' || n_nationkey || '"]' END AS alts
        |  FROM nation),
        |raw AS (SELECT CAST(c_custkey % 25 AS BIGINT) AS fid,
        |    c_custkey % 97 AS n, 'p' || (c_custkey % 3) AS prov
        |  FROM customer),
        |e AS (SELECT CAST(o_orderkey % 25 AS BIGINT) AS fid FROM orders),
        |wkeys AS (SELECT DISTINCT n, prov FROM raw WHERE fid = 12),
        |raw2 AS (SELECT fid FROM raw WHERE fid <> 7
        |  UNION ALL
        |  SELECT CAST(12 AS BIGINT) FROM raw r WHERE r.fid = 7
        |    AND NOT EXISTS (SELECT 1 FROM wkeys w
        |      WHERE w.n = r.n AND w.prov = r.prov)),
        |e2 AS (SELECT CASE WHEN fid = 7 THEN 12 ELSE fid END AS fid FROM e),
        |fm AS (SELECT fid, dn,
        |    CASE WHEN fid = 12 THEN to_json(['alt12', 'F7', 'alt7'])
        |         ELSE alts END AS alternate_titles,
        |    CASE WHEN fid = 7 THEN CAST(12 AS BIGINT) END AS merge_into_id
        |  FROM f)
        |SELECT fm.fid AS funder_id, fm.dn AS display_name,
        |  CAST(fm.alternate_titles AS VARCHAR) AS alternate_titles,
        |  fm.merge_into_id,
        |  coalesce(a.n, 0) AS n_awards, coalesce(ee.n, 0) AS n_edges
        |FROM fm
        |LEFT JOIN (SELECT fid, CAST(count(*) AS BIGINT) AS n
        |  FROM raw2 GROUP BY 1) a ON fm.fid = a.fid
        |LEFT JOIN (SELECT fid, CAST(count(*) AS BIGINT) AS n
        |  FROM e2 GROUP BY 1) ee ON fm.fid = ee.fid""".stripMargin,
    "q85_name_conflict_overmerges" ->
      """WITH pn(raw, nf, mi, mc, nl) AS (VALUES
        |  ('raw0', 'jason', NULL, 0, 'priem'),
        |  ('raw1', 'j', NULL, 0, 'priem'),
        |  ('raw2', 'jason', 'r', 1, 'priem'),
        |  ('raw3', 'joseph', NULL, 0, 'priem'),
        |  ('raw4', 'yi-ting', NULL, 0, 'priem'),
        |  ('raw5', 'yiting', NULL, 0, 'priem'),
        |  ('raw6', 'priem', NULL, 0, 'priem'),
        |  ('raw7', 'maria', NULL, 0, 'garcia')),
        |wa1 AS (SELECT c_custkey AS work_id, c_custkey % 113 AS author_id,
        |    'raw' || (CASE WHEN (c_custkey % 113) % 4 = 0
        |      THEN c_custkey % 7 ELSE c_custkey % 2 END) AS raw
        |  FROM customer),
        |wa AS (SELECT * FROM wa1
        |  UNION ALL SELECT c_custkey, (c_custkey % 113) + 1000,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'raw0' ELSE 'raw7' END
        |  FROM customer),
        |nm AS (SELECT w.author_id, w.work_id, p.nf, p.mi, p.mc, p.nl,
        |    replace(p.nf, '-', '') AS cf
        |  FROM wa1 w JOIN pn p ON w.raw = p.raw),
        |cl AS (SELECT author_id, nl AS common_last FROM (
        |    SELECT author_id, nl, count(*) AS cnt,
        |      row_number() OVER (PARTITION BY author_id
        |        ORDER BY count(*) DESC, nl ASC) AS rn
        |    FROM nm WHERE nl IS NOT NULL GROUP BY author_id, nl)
        |  WHERE rn = 1),
        |confl AS (SELECT nm.author_id, cl.common_last,
        |    count(DISTINCT CASE WHEN length(cf) > 2 AND cf <> cl.common_last
        |      THEN cf END) AS dff,
        |    count(DISTINCT CASE WHEN nm.mc > 0 THEN nm.mi END) AS dm,
        |    count(*) AS tw
        |  FROM nm LEFT JOIN cl USING (author_id)
        |  GROUP BY nm.author_id, cl.common_last
        |  HAVING dff > 1 OR dm > 1),
        |corf AS (SELECT author_id, cf AS core_first FROM (
        |    SELECT author_id, cf, count(*) AS cnt,
        |      row_number() OVER (PARTITION BY author_id
        |        ORDER BY count(*) DESC, cf ASC) AS rn
        |    FROM nm WHERE length(cf) > 2 GROUP BY author_id, cf)
        |  WHERE rn = 1),
        |corm AS (SELECT author_id, mi AS core_mi, mc AS core_mc FROM (
        |    SELECT author_id, mi, mc, count(*) AS cnt,
        |      row_number() OVER (PARTITION BY author_id
        |        ORDER BY count(*) DESC, mi ASC, mc ASC) AS rn
        |    FROM nm WHERE mc > 0 GROUP BY author_id, mi, mc)
        |  WHERE rn = 1),
        |corl AS (SELECT author_id, nl AS core_last FROM (
        |    SELECT author_id, nl, count(*) AS cnt,
        |      row_number() OVER (PARTITION BY author_id
        |        ORDER BY count(*) DESC, nl ASC) AS rn
        |    FROM nm WHERE nl IS NOT NULL GROUP BY author_id, nl)
        |  WHERE rn = 1),
        |core AS (SELECT corl.author_id, corf.core_first, corm.core_mi,
        |    coalesce(corm.core_mc, 0) AS core_mc, corl.core_last
        |  FROM corl JOIN confl USING (author_id)
        |  LEFT JOIN corf USING (author_id) LEFT JOIN corm USING (author_id)),
        |outl AS (SELECT nm.author_id, nm.work_id, c2.core_first, c2.core_mi,
        |    c2.core_mc, c2.core_last
        |  FROM nm JOIN core c2 USING (author_id)
        |  WHERE NOT (
        |    (nm.nl IS NOT NULL AND c2.core_last IS NOT NULL
        |      AND nm.nl = c2.core_last)
        |    AND (CASE WHEN nm.nf IS NULL OR c2.core_first IS NULL
        |           OR nm.nf = '' OR c2.core_first = '' THEN TRUE
        |         WHEN length(nm.cf) <= 2
        |           OR length(replace(c2.core_first, '-', '')) <= 2
        |         THEN substr(nm.cf, 1, 1)
        |           = substr(replace(c2.core_first, '-', ''), 1, 1)
        |         ELSE nm.cf = replace(c2.core_first, '-', '') END)
        |    AND (CASE WHEN coalesce(nm.mc, 0) = 0
        |           OR coalesce(c2.core_mc, 0) = 0 THEN TRUE
        |         ELSE coalesce(nm.mi, '') = coalesce(c2.core_mi, '') END))),
        |cim AS (SELECT DISTINCT o.author_id, o.work_id
        |  FROM outl o JOIN wa co ON o.work_id = co.work_id
        |    AND co.author_id <> o.author_id
        |  JOIN pn cp ON co.raw = cp.raw
        |  WHERE (cp.nl IS NOT NULL AND o.core_last IS NOT NULL
        |      AND cp.nl = o.core_last)
        |    AND (CASE WHEN cp.nf IS NULL OR o.core_first IS NULL
        |           OR cp.nf = '' OR o.core_first = '' THEN TRUE
        |         WHEN length(replace(cp.nf, '-', '')) <= 2
        |           OR length(replace(o.core_first, '-', '')) <= 2
        |         THEN substr(replace(cp.nf, '-', ''), 1, 1)
        |           = substr(replace(o.core_first, '-', ''), 1, 1)
        |         ELSE replace(cp.nf, '-', '') = replace(o.core_first, '-', '') END)
        |    AND (CASE WHEN coalesce(cp.mc, 0) = 0
        |           OR coalesce(o.core_mc, 0) = 0 THEN TRUE
        |         ELSE coalesce(cp.mi, '') = coalesce(o.core_mi, '') END)),
        |gen AS (SELECT o.author_id, o.work_id FROM outl o
        |  LEFT JOIN cim USING (author_id, work_id)
        |  WHERE cim.work_id IS NULL)
        |SELECT c3.author_id, c3.dff AS distinct_full_firsts,
        |  c3.dm AS distinct_middles, c3.tw AS total_works,
        |  coalesce(oc.n, 0) AS n_outliers, coalesce(gc.n, 0) AS n_genuine
        |FROM confl c3
        |LEFT JOIN (SELECT author_id, CAST(count(*) AS BIGINT) AS n
        |  FROM outl GROUP BY 1) oc USING (author_id)
        |LEFT JOIN (SELECT author_id, CAST(count(*) AS BIGINT) AS n
        |  FROM gen GROUP BY 1) gc USING (author_id)""".stripMargin,
    "q84_quality_judge_apply" ->
      """WITH pa AS (SELECT c_custkey AS k,
        |    ['same_person','different_person','cannot_determine'][(c_custkey % 3) + 1] AS verdict,
        |    'tier' || (c_custkey % 3) AS tier,
        |    1 + (c_custkey % 37) AS plen
        |  FROM customer WHERE c_custkey % 3 <> 0),
        |pb AS (SELECT o_orderkey AS k,
        |    ['candidate_1','candidate_2','candidate_3','candidate_4',
        |     'candidate_5','none_correct','cannot_determine'][(o_orderkey % 7) + 1] AS verdict,
        |    1 + (o_orderkey % 53) AS plen
        |  FROM orders WHERE o_orderkey % 4 = 1),
        |auth AS (SELECT CAST(c_custkey AS BIGINT) AS id,
        |    CASE WHEN c_custkey % 2 = 0 THEN 'orc' || (c_custkey % 200) END AS orcid,
        |    DATE '2024-01-01' + INTERVAL ((c_custkey % 10)) DAY AS created
        |  FROM customer),
        |coll AS (SELECT m.id AS minted FROM auth m JOIN auth o2
        |    ON m.orcid = o2.orcid AND o2.id < m.id
        |  WHERE m.orcid IS NOT NULL AND m.created = DATE '2024-01-05'),
        |rollups AS (
        |  SELECT 'judge_arm_a' AS metric, tier || '|' || verdict AS dimension,
        |    CAST(count(*) AS BIGINT) AS value FROM pa GROUP BY 2
        |  UNION ALL
        |  SELECT 'judge_arm_b',
        |    CASE WHEN verdict LIKE 'candidate%' THEN 'candidate_pick'
        |         ELSE verdict END, CAST(count(*) AS BIGINT)
        |  FROM pb GROUP BY 2
        |  UNION ALL
        |  SELECT 'orcid_mint_collisions', NULL,
        |    CAST(count(DISTINCT minted) AS BIGINT) FROM coll
        |  UNION ALL
        |  SELECT 'judge_cost_cents', NULL,
        |    CAST(trunc((((SELECT coalesce(sum(plen), 0) FROM pa)
        |      + (SELECT coalesce(sum(plen), 0) FROM pb)) / 4.0 * 15.0
        |      + ((SELECT count(*) FROM pa) + (SELECT count(*) FROM pb))
        |        * 20.0 * 75.0) / 1e6 * 100) AS BIGINT)
        |  UNION ALL
        |  SELECT 'sample_total', 'armA|2024-01-04',
        |    CAST((SELECT count(*) FROM pa) AS BIGINT)
        |  UNION ALL
        |  SELECT 'sample_total', 'armA|2024-01-05',
        |    CAST((SELECT count(*) FROM pa) AS BIGINT)
        |  UNION ALL
        |  SELECT 'sample_total', 'armB|2024-01-05',
        |    CAST((SELECT count(*) FROM pb) AS BIGINT)
        |  UNION ALL
        |  -- a groupBy emits no row for an empty arm (small SFs have
        |  -- no orcid collisions)
        |  SELECT 'sample_total', 'orcid_collision|2024-01-05',
        |    CAST(count(*) AS BIGINT) FROM coll HAVING count(*) > 0)
        |SELECT * FROM rollups""".stripMargin,
    "q64_affiliation_rules" -> q64Oracle,
    "q78_affiliation_refine" -> q78Oracle,
    "q70_authorship_daily_metrics" ->
      """WITH w AS (SELECT o_orderkey AS k, o_orderkey % 4 + 1 AS n0,
        |  o_orderkey % 5 AS m5 FROM orders),
        |d AS (SELECT k, m5,
        |  CASE WHEN m5 = 0 THEN n0 + 1 WHEN m5 = 1 THEN n0 - 1 ELSE n0 END AS n2
        |  FROM w),
        |seats AS (SELECT d.k, r.i FROM d, range(0, 6) r(i) WHERE r.i < d.n2)
        |SELECT 'works_total' AS metric, '(all)' AS dimension,
        |  CAST(count(*) AS BIGINT) AS value FROM d
        |UNION ALL SELECT 'base_authors_total', '(all)', CAST(sum(n2) AS BIGINT) FROM d
        |UNION ALL SELECT 'seats_total', '(all)', CAST(sum(n2) AS BIGINT) FROM d
        |UNION ALL SELECT 'null_seats_total', '(all)',
        |  CAST(count(*) FILTER (WHERE (k + i) % 7 = 0) AS BIGINT) FROM seats
        |UNION ALL SELECT 'works_by_base_n', CAST(n2 AS VARCHAR),
        |  CAST(count(*) AS BIGINT) FROM d GROUP BY n2
        |UNION ALL SELECT * FROM (
        |  SELECT 'change_events',
        |    CASE m5 WHEN 0 THEN 'GREW' WHEN 1 THEN 'SHRANK'
        |      WHEN 2 THEN 'NAMES_CHANGED' ELSE 'METADATA_CHANGED' END AS et,
        |    CAST(count(*) AS BIGINT) FROM d WHERE m5 < 4 GROUP BY et)""".stripMargin,
    "q65_concepts_api" ->
      """WITH w AS (SELECT o_orderkey AS k FROM orders),
        |pairs AS (
        |  SELECT k AS work_id, k % 23 AS cbc, k % 50 AS cid FROM w
        |  UNION
        |  SELECT k, k % 23, (k + 3) % 50 FROM w WHERE k % 3 = 0),
        |counts AS (SELECT cid,
        |  CAST(count(*) AS INTEGER) AS works_count,
        |  CAST(sum(cbc) AS INTEGER) AS cited_by_count
        |  FROM pairs GROUP BY cid),
        |reg AS (SELECT c_custkey - 1 AS cid, (c_custkey - 1) % 6 AS level,
        |  'Q' || CAST(c_custkey - 1 AS VARCHAR) AS wikidata
        |  FROM customer WHERE c_custkey <= 50
        |    AND (c_custkey - 1) % 10 NOT IN (8, 9))
        |SELECT c.cid AS id, 'Concept ' || CAST(c.cid AS VARCHAR) AS display_name,
        |r.level, 'desc ' || CAST(c.cid AS VARCHAR) AS description, r.wikidata,
        |'http://img/' || CAST(c.cid AS VARCHAR) AS image_url,
        |'http://thumb/' || CAST(c.cid AS VARCHAR) AS image_thumbnail_url,
        |c.works_count, c.cited_by_count,
        |CAST(to_json(struct_pack(
        |  openalex := 'https://openalex.org/C' || CAST(c.cid AS VARCHAR),
        |  wikidata := r.wikidata,
        |  wikipedia := 'https://en.wikipedia.org/wiki/' ||
        |    replace(lower('Concept ' || CAST(c.cid AS VARCHAR)), ' ', '_')))
        |  AS VARCHAR) AS ids_json,
        |'https://api.openalex.org/works?filter=concepts.id:' || CAST(c.cid AS VARCHAR)
        |  AS works_api_url
        |FROM counts c JOIN reg r ON c.cid = r.cid""".stripMargin,
    "q66_keywords_dynamic" ->
      """WITH w AS (SELECT o_orderkey AS k FROM orders),
        |ex AS (SELECT DISTINCT k AS work_id, (k + i * 7) % 50 AS cid,
        |  CAST((k * 7 + i * 13) % 100 AS DOUBLE) / 100.0 AS score
        |  FROM w, range(0, 5) r(i) WHERE i <= k % 5),
        |joined AS (SELECT work_id, cid, score,
        |  'Q' || CAST(cid AS VARCHAR) AS wd,
        |  CASE WHEN cid % 3 = 0 THEN 'Data Science (DS) ' || CAST(cid AS VARCHAR)
        |       WHEN cid % 3 = 1 THEN 'Alice''s Graph Theory ' || CAST(cid AS VARCHAR)
        |       ELSE 'Neural Networks / Deep ' || CAST(cid AS VARCHAR) END AS dn,
        |  cid % 4 AS lvl
        |  FROM ex),
        |slugged AS (SELECT *,
        |  'https://openalex.org/keywords/' || regexp_replace(regexp_replace(
        |    regexp_replace(replace(lower(dn), '''', ''), '\s*\([^)]*\)', '', 'g'),
        |    '[^^\p{L}\p{N}\./–*#]+', '-', 'g'), '(^-+|-+$)', '', 'g') AS kid
        |  FROM joined),
        |g AS (SELECT work_id,
        |  list_slice(list(struct_pack(id := cid, wikidata := wd,
        |      display_name := dn, level := lvl, score := round(score, 4))
        |    ORDER BY score DESC, cid ASC), 1, 40) AS concepts,
        |  list(struct_pack(id := kid, display_name := dn, score := round(score, 4))
        |    ORDER BY score DESC, kid ASC) FILTER (WHERE lvl > 1) AS kf
        |  FROM slugged GROUP BY work_id),
        |t AS (SELECT work_id, concepts, kf,
        |  coalesce(len(list_filter(kf, x -> x.score > 0.20)), 0) AS na FROM g),
        |u AS (SELECT work_id, concepts, kf,
        |  list_slice(list_filter(kf, x -> x.score > 0), 1,
        |    CAST(greatest(2, least(12, round(5.0 + 6.0 *
        |      (exp(2 * ((na - 7) * 0.05)) - 1) / (exp(2 * ((na - 7) * 0.05)) + 1))))
        |      AS INTEGER)) AS kws
        |  FROM t)
        |SELECT work_id, CAST(to_json(concepts) AS VARCHAR) AS concepts_json,
        |CASE WHEN kf IS NULL THEN '[]'
        |     ELSE CAST(to_json(kws) AS VARCHAR) END AS keywords_json,
        |CASE WHEN kf IS NULL THEN 0 ELSE CAST(len(kws) AS INTEGER) END AS n_keywords
        |FROM u""".stripMargin,
    "q67_keywords_api" ->
      """WITH w AS (SELECT o_orderkey AS k, o_orderkey % 19 AS cbc FROM orders),
        |pairs AS (SELECT k AS work_id, cbc, k % 30 AS kid FROM w
        |  UNION SELECT k, cbc, (k + 5) % 30 FROM w WHERE k % 4 = 0),
        |counts AS (SELECT kid, CAST(count(*) AS INTEGER) AS works_count,
        |  CAST(sum(cbc) AS INTEGER) AS cited_by_count FROM pairs GROUP BY kid)
        |SELECT 'https://openalex.org/keywords/kw-' || CAST(kid AS VARCHAR) AS id,
        |'Kw ' || CAST(kid AS VARCHAR) AS display_name, works_count, cited_by_count,
        |'https://api.openalex.org/works?filter=keywords.id:keywords/kw-' ||
        |  CAST(kid AS VARCHAR) AS works_api_url,
        |strftime(DATE '2021-01-01' + CAST(kid AS INTEGER), '%Y-%m-%d') AS created
        |FROM counts""".stripMargin,
    "q63_wunpaywall_changed_dates" ->
      """SELECT '10.7/' || CAST(o_orderkey AS VARCHAR) AS doi,
        |CASE WHEN o_orderkey > 6000 OR o_orderkey % 5 = 0
        |     THEN '2024-02-02' ELSE '2024-01-01' END AS changed_date,
        |sha256('{"doi":"10.7/' || CAST(o_orderkey AS VARCHAR) ||
        |  '","status":"' || o_orderpriority || '","n":' ||
        |  CAST(CASE WHEN o_orderkey % 5 = 0 THEN o_orderkey % 7 + 1
        |            ELSE o_orderkey % 7 END AS VARCHAR) || '}') AS response_hash
        |FROM orders WHERE o_orderkey <= 6600""".stripMargin,
    "q60_institution_lineage" ->
      """WITH RECURSIVE anc AS (
        |  SELECT c_custkey AS institution_id, c_custkey // 10 AS ancestor_id,
        |    1 AS generation
        |  FROM customer WHERE c_custkey >= 10
        |  UNION ALL
        |  SELECT a.institution_id, a.ancestor_id // 10, a.generation + 1
        |  FROM anc a WHERE a.ancestor_id >= 10)
        |SELECT institution_id,
        |CAST(to_json(list(ancestor_id ORDER BY generation, ancestor_id)) AS VARCHAR)
        |  AS lineage,
        |CAST(count(*) AS INTEGER) AS n_ancestors,
        |CAST(max(generation) AS INTEGER) AS max_generation
        |FROM anc GROUP BY institution_id""".stripMargin,
    "q59_funder_summary_stats" ->
      """WITH wf AS (SELECT o_custkey % 100 AS funder_id, o_orderkey AS work_id,
        |  o_orderkey % 23 AS cited, (o_orderkey % 2 = 0) AS is_oa,
        |  year(o_orderdate) AS pub_year FROM orders),
        |g AS (SELECT funder_id,
        |  CAST(count(DISTINCT work_id) AS INTEGER) AS works_count,
        |  CAST(sum(cited) AS INTEGER) AS cited_by_count,
        |  CAST(sum(CASE WHEN is_oa THEN 1 ELSE 0 END) AS INTEGER) AS oa_works_count,
        |  CAST(count(CASE WHEN cited >= 10 THEN 1 END) AS INTEGER) AS i10_index,
        |  floor(CAST(sum(CASE WHEN pub_year >= 1997 THEN cited END) AS DOUBLE)
        |    / nullif(CAST(count(CASE WHEN pub_year >= 1997 THEN cited END) AS DOUBLE), 0)
        |    * 1000000 + 0.5) / 1000000.0 AS recent_mean_citedness,
        |  list_sort(list(cited), 'DESC') AS s
        |  FROM wf GROUP BY funder_id)
        |SELECT funder_id, works_count, cited_by_count, oa_works_count, i10_index,
        |recent_mean_citedness,
        |CAST(len(list_filter(range(1, len(s)+1), i -> s[i] >= i)) AS INTEGER) AS h_index
        |FROM g""".stripMargin,
    "q58_sources_legacy_snapshot" ->
      """SELECT c_custkey AS id,
        |CASE WHEN c_custkey % 3 = 0 THEN 1000 END AS apc_first,
        |CASE WHEN c_custkey % 2 = 0 THEN 1600 END AS apc_2024,
        |CASE WHEN c_custkey % 4 = 0 THEN 2 END AS n_alt,
        |0 AS n_datacite,
        |'https://pub' || CAST(c_custkey AS VARCHAR) || '.example' AS webpage,
        |(c_custkey % 10 = 0) AS is_redirect,
        |CAST(CASE WHEN c_custkey % 10 = 0 THEN c_custkey + 1 ELSE c_custkey END AS BIGINT)
        |  AS canonical_id
        |FROM customer""".stripMargin,
    "q54_author_topics_share" ->
      """WITH awt AS (
        |  SELECT DISTINCT o_custkey AS author_id, o_orderkey AS work_id,
        |    't' || CAST(o_orderkey % 20 AS VARCHAR) AS topic_id FROM orders
        |  UNION
        |  SELECT DISTINCT o_custkey, o_orderkey, 't' || CAST((o_orderkey+7) % 20 AS VARCHAR)
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |ac AS (SELECT author_id, topic_id, count(DISTINCT work_id) AS cnt
        |  FROM awt GROUP BY 1, 2),
        |tot AS (SELECT topic_id, count(DISTINCT work_id) AS total FROM awt GROUP BY 1),
        |r AS (SELECT ac.author_id, ac.topic_id, ac.cnt,
        |  CAST(floor(CAST(ac.cnt AS DOUBLE)/CAST(tot.total AS DOUBLE)*10000000 + 0.5) AS BIGINT) AS e7
        |  FROM ac JOIN tot USING (topic_id))
        |SELECT author_id,
        |CAST(to_json(list(struct_pack(id := topic_id, count := CAST(cnt AS INTEGER))
        |  ORDER BY cnt DESC, topic_id ASC)) AS VARCHAR) AS topics_json,
        |CAST(to_json(list(struct_pack(id := topic_id, value_e7 := e7)
        |  ORDER BY e7 DESC, topic_id ASC)) AS VARCHAR) AS share_json
        |FROM r GROUP BY author_id""".stripMargin,
    "q55_author_counts_by_year" ->
      """SELECT o_custkey AS author_id, CAST(year(o_orderdate) AS INTEGER) AS year,
        |CAST(count(*) AS INTEGER) AS works_count,
        |CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS INTEGER) AS oa_works_count,
        |CAST(sum(o_orderkey % 17) AS INTEGER) AS cited_by_count
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q49_humanname_parse" ->
      """SELECT doc_id,
        |CASE doc_id % 20 WHEN 0 THEN 'Jane Smith' WHEN 1 THEN 'Smith, Jane'
        |  WHEN 2 THEN 'Jan van der Berg' WHEN 3 THEN 'John Q. Public Jr.'
        |  WHEN 4 THEN 'Maria de la Cruz' WHEN 5 THEN '李雷'
        |  WHEN 6 THEN 'Doe, John PhD' WHEN 7 THEN 'Prince'
        |  WHEN 8 THEN '김민준' WHEN 9 THEN 'Иван Сергеевич Иванов'
        |  WHEN 10 THEN 'Петрова Анна Сергеевна' WHEN 11 THEN 'さとう ゆき'
        |  WHEN 12 THEN 'محمد علي'
        |  WHEN 13 THEN 'たなか きょうこ' WHEN 14 THEN 'ちょう しゅんすけ'
        |  WHEN 15 THEN 'はっとり けんいち' WHEN 16 THEN 'ちゃん きっぺい'
        |  WHEN 17 THEN 'Сергей Волков' WHEN 18 THEN 'Li Wei 李伟'
        |  ELSE '歐陽修' END AS raw_name,
        |CASE doc_id % 20 WHEN 0 THEN 'Jane' WHEN 1 THEN 'Jane'
        |  WHEN 2 THEN 'Jan' WHEN 3 THEN 'John Q.'
        |  WHEN 4 THEN 'Maria' WHEN 5 THEN '雷'
        |  WHEN 6 THEN 'John' WHEN 7 THEN NULL
        |  WHEN 8 THEN 'Minjun' WHEN 9 THEN 'Ivan Sergeevich'
        |  WHEN 10 THEN 'Anna Sergeevna' WHEN 11 THEN 'Yuki'
        |  WHEN 12 THEN 'Mhmd'
        |  WHEN 13 THEN 'Kyoko' WHEN 14 THEN 'Shunsuke'
        |  WHEN 15 THEN 'Kenichi' WHEN 16 THEN 'Kippei'
        |  WHEN 17 THEN 'Sergei' WHEN 18 THEN 'Li Wei' ELSE '修' END AS given,
        |CASE doc_id % 20 WHEN 0 THEN 'Smith' WHEN 1 THEN 'Smith'
        |  WHEN 2 THEN 'van der Berg' WHEN 3 THEN 'Public'
        |  WHEN 4 THEN 'de la Cruz' WHEN 5 THEN '李'
        |  WHEN 6 THEN 'Doe' WHEN 7 THEN 'Prince'
        |  WHEN 8 THEN 'Kim' WHEN 9 THEN 'Ivanov'
        |  WHEN 10 THEN 'Petrova' WHEN 11 THEN 'Sato'
        |  WHEN 12 THEN 'Aly'
        |  WHEN 13 THEN 'Tanaka' WHEN 14 THEN 'Cho'
        |  WHEN 15 THEN 'Hattori' WHEN 16 THEN 'Chan'
        |  WHEN 17 THEN 'Volkov' WHEN 18 THEN '李伟' ELSE '歐陽' END AS family,
        |CASE doc_id % 20 WHEN 0 THEN 'smith;j' WHEN 1 THEN 'smith;j'
        |  WHEN 2 THEN 'van der berg;j' WHEN 3 THEN 'public;j'
        |  WHEN 4 THEN 'de la cruz;m' WHEN 5 THEN '李;雷'
        |  WHEN 6 THEN 'doe;j' WHEN 7 THEN 'prince;'
        |  WHEN 8 THEN 'kim;m' WHEN 9 THEN 'ivanov;i'
        |  WHEN 10 THEN 'petrova;a' WHEN 11 THEN 'sato;y'
        |  WHEN 12 THEN 'aly;m'
        |  WHEN 13 THEN 'tanaka;k' WHEN 14 THEN 'cho;s'
        |  WHEN 15 THEN 'hattori;k' WHEN 16 THEN 'chan;k'
        |  WHEN 17 THEN 'volkov;s' WHEN 18 THEN '李伟;l'
        |  ELSE '歐陽;修' END AS author_key
        |FROM documents""".stripMargin,
    "q50_union_locations_scd1" ->
      """WITH a AS (SELECT CAST(o_orderkey AS VARCHAR) AS native_id,
        |    o_orderdate AS ud, o_orderpriority AS title FROM orders),
        |b AS (SELECT CAST(o_orderkey AS VARCHAR), o_orderdate + INTERVAL 1 DAY,
        |    'B:' || o_orderpriority FROM orders WHERE o_orderkey % 2 = 0),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
        |w AS (SELECT *, row_number() OVER (PARTITION BY native_id ORDER BY ud DESC) AS rn FROM u)
        |SELECT native_id, title, strftime(ud, '%Y-%m-%d') AS updated,
        |CAST(NULL AS VARCHAR) AS abstract
        |FROM w WHERE rn = 1""".stripMargin,
    "q51_work_id_resolver" ->
      """WITH loc AS (SELECT o_orderkey AS loc_id, o_orderkey % 6 AS m6 FROM orders),
        |a AS (SELECT loc_id,
        |  CASE WHEN m6 = 0 THEN 1000 + loc_id WHEN m6 = 1 THEN 2000 + loc_id
        |       WHEN m6 = 2 THEN 3000 + loc_id END AS work_id,
        |  CASE WHEN m6 = 0 THEN 'doi' WHEN m6 = 1 THEN 'pmid'
        |       WHEN m6 = 2 THEN 'title_author' END AS src,
        |  CASE WHEN m6 = 3 THEN 'doi:10.1/d' || CAST(loc_id AS VARCHAR)
        |       WHEN m6 = 4 THEN 'pmid:pm' || CAST(loc_id AS VARCHAR)
        |       WHEN m6 = 5 THEN 'ta:title author string number ' || CAST(loc_id AS VARCHAR)
        |  END AS mint_key FROM loc),
        |mint AS (SELECT mint_key, 6600000000 + row_number() OVER (ORDER BY mint_key) AS mid
        |  FROM (SELECT DISTINCT mint_key FROM a WHERE mint_key IS NOT NULL) x)
        |SELECT loc_id, CAST(coalesce(a.work_id, m.mid) AS BIGINT) AS work_id,
        |coalesce(a.src, 'minted') AS work_id_source
        |FROM a LEFT JOIN mint m USING (mint_key)""".stripMargin,
    "q52_author_match_cascade" ->
      """WITH inc AS (SELECT c_custkey AS k, c_custkey % 100 AS work_id,
        |  c_custkey // 100 AS author_seq,
        |  'b' || CAST(c_custkey % 40 AS VARCHAR) AS block_key,
        |  CASE WHEN c_custkey % 4 = 0 THEN 'o' || CAST(c_custkey AS VARCHAR)
        |       WHEN c_custkey % 4 = 2 THEN 'odup' || CAST(c_custkey % 100 AS VARCHAR)
        |  END AS orcid,
        |  'i' || CAST(c_custkey % 7 AS VARCHAR) AS inst,
        |  's' || CAST(c_custkey % 5 AS VARCHAR) AS src FROM customer),
        |cand AS (SELECT 500 + c_custkey AS author_id,
        |  'b' || CAST(c_custkey % 40 AS VARCHAR) AS block_key,
        |  CASE WHEN c_custkey % 12 = 0 THEN 'o' || CAST(c_custkey AS VARCHAR) END AS orcid,
        |  ['i' || CAST(c_custkey % 7 AS VARCHAR), 'i' || CAST((c_custkey+1) % 7 AS VARCHAR)] AS insts,
        |  ['s' || CAST(c_custkey % 5 AS VARCHAR), 's' || CAST((c_custkey+2) % 5 AS VARCHAR)] AS srcs
        |  FROM customer WHERE c_custkey % 3 = 0 AND c_custkey <= 180),
        |dup AS (SELECT work_id, orcid FROM inc WHERE orcid IS NOT NULL
        |  GROUP BY 1, 2 HAVING count(*) > 1),
        |orc AS (SELECT i.work_id, i.author_seq, min(c.author_id) AS author_id,
        |  'orcid' AS tier FROM inc i JOIN cand c ON i.orcid = c.orcid
        |  WHERE NOT EXISTS (SELECT 1 FROM dup d
        |    WHERE d.work_id = i.work_id AND d.orcid = i.orcid)
        |  GROUP BY 1, 2),
        |r1 AS (SELECT * FROM inc WHERE NOT EXISTS (SELECT 1 FROM orc o
        |  WHERE o.work_id = inc.work_id AND o.author_seq = inc.author_seq)),
        |t2 AS (SELECT work_id, author_seq, min(author_id) AS author_id,
        |  'name_institution' AS tier FROM r1 JOIN cand c ON r1.block_key = c.block_key
        |    AND list_contains(c.insts, r1.inst)
        |  GROUP BY 1, 2 HAVING count(DISTINCT author_id) = 1),
        |r2 AS (SELECT * FROM r1 WHERE NOT EXISTS (SELECT 1 FROM t2
        |  WHERE t2.work_id = r1.work_id AND t2.author_seq = r1.author_seq)),
        |t3 AS (SELECT work_id, author_seq, min(author_id) AS author_id,
        |  'name_source' AS tier FROM r2 JOIN cand c ON r2.block_key = c.block_key
        |    AND list_contains(c.srcs, r2.src)
        |  GROUP BY 1, 2 HAVING count(DISTINCT author_id) = 1),
        |r3 AS (SELECT * FROM r2 WHERE NOT EXISTS (SELECT 1 FROM t3
        |  WHERE t3.work_id = r2.work_id AND t3.author_seq = r2.author_seq)),
        |t4 AS (SELECT work_id, author_seq, min(author_id) AS author_id,
        |  'name_unique' AS tier FROM r3 JOIN cand c ON r3.block_key = c.block_key
        |  GROUP BY 1, 2 HAVING count(DISTINCT author_id) = 1),
        |r4 AS (SELECT * FROM r3 WHERE NOT EXISTS (SELECT 1 FROM t4
        |  WHERE t4.work_id = r3.work_id AND t4.author_seq = r3.author_seq)),
        |mint AS (SELECT block_key, 6600000000 + row_number() OVER (ORDER BY block_key) AS mid
        |  FROM (SELECT DISTINCT block_key FROM r4) x),
        |t5 AS (SELECT r4.work_id, r4.author_seq, m.mid AS author_id, 'minted' AS tier
        |  FROM r4 JOIN mint m USING (block_key)),
        |res AS (SELECT * FROM orc UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3
        |  UNION ALL SELECT * FROM t4 UNION ALL SELECT * FROM t5)
        |SELECT i.work_id, i.author_seq, CAST(r.author_id AS BIGINT) AS author_id,
        |r.tier AS match_tier
        |FROM inc i LEFT JOIN res r ON i.work_id = r.work_id AND i.author_seq = r.author_seq""".stripMargin,
    "q53_authorships_assemble" ->
      """WITH m AS (SELECT c_custkey AS k, c_custkey % 200 AS work_id,
        |  c_custkey // 200 AS author_seq,
        |  'A' || CAST(c_custkey AS VARCHAR) AS author_id, c_name AS raw_name,
        |  (c_custkey % 5 = 0) AS is_corresponding,
        |  CASE WHEN c_custkey % 11 = 0 THEN NULL
        |       ELSE 'n' || CAST(c_custkey % 30 AS VARCHAR) END AS iid
        |  FROM customer),
        |j AS (SELECT m.*,
        |  CASE WHEN n.n_nationkey IS NOT NULL THEN struct_pack(
        |    id := 'n' || CAST(n.n_nationkey AS VARCHAR),
        |    display_name := n.n_name,
        |    country_code := 'c' || CAST(n.n_regionkey AS VARCHAR),
        |    lineage := ['n' || CAST(n.n_nationkey AS VARCHAR),
        |                'r' || CAST(n.n_regionkey AS VARCHAR)]) END AS inst,
        |  'c' || CAST(n.n_regionkey AS VARCHAR) AS cc
        |  FROM m LEFT JOIN nation n ON m.iid = 'n' || CAST(n.n_nationkey AS VARCHAR)),
        |g AS (SELECT work_id, author_seq, author_id, raw_name, is_corresponding,
        |  list_sort(list_filter(list(inst), x -> x IS NOT NULL)) AS institutions,
        |  list_sort(list_distinct(list_filter(list(cc), x -> x IS NOT NULL))) AS countries
        |  FROM j GROUP BY 1, 2, 3, 4, 5),
        |wl AS (SELECT *, max(author_seq) OVER (PARTITION BY work_id) AS mx FROM g),
        |st AS (SELECT work_id, struct_pack(
        |  author_seq := author_seq,
        |  author_position := CASE WHEN author_seq = 0 THEN 'first'
        |    WHEN author_seq = mx THEN 'last' ELSE 'middle' END,
        |  author_id := author_id, raw_name := raw_name,
        |  is_corresponding := is_corresponding,
        |  institutions := institutions, countries := countries) AS a,
        |  is_corresponding FROM wl)
        |SELECT work_id,
        |CAST(to_json(list(a ORDER BY a.author_seq)) AS VARCHAR) AS authorships,
        |max(is_corresponding) AS has_corresponding
        |FROM st GROUP BY work_id""".stripMargin)
}
