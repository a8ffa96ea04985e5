package graft.fakegen

/** Small bundled wordlists backing the fake-data generators — the Spark
  * analog of the reference's embedded faker dictionaries
  * (rustic-faker-transformations, `fake` crate wordlists). Arrays, not
  * Seqs: indexed access from the codegen'd hot path, which reads the
  * UTF-8 encodings (`*Utf8`) made once here.
  */
object Wordlists {

  val firstNames: Array[String] = Array(
    "Alice", "Amelia", "Arthur", "Astrid", "Bruno", "Camila", "Carlos",
    "Clara", "Daniel", "Diana", "Elena", "Elias", "Emma", "Felix",
    "Fiona", "Gabriel", "Greta", "Hana", "Henry", "Ines", "Ivan",
    "Jasmine", "Jonas", "Julia", "Kenji", "Laila", "Leo", "Lina",
    "Lucas", "Maria", "Marco", "Mei", "Milan", "Nadia", "Noah",
    "Nora", "Omar", "Paula", "Pedro", "Priya", "Quinn", "Rafael",
    "Rosa", "Sami", "Sara", "Simon", "Sofia", "Stella", "Tariq",
    "Tessa", "Theo", "Uma", "Victor", "Wren", "Yara", "Yusuf",
    "Zara", "Zoe")

  val lastNames: Array[String] = Array(
    "Abbott", "Almeida", "Baker", "Becker", "Bennett", "Castillo",
    "Chen", "Clarke", "Costa", "Dalton", "Dias", "Dubois", "Ellis",
    "Farrell", "Fischer", "Fletcher", "Garcia", "Gruber", "Haines",
    "Hansen", "Hoffman", "Ibarra", "Ito", "Jansen", "Keller", "Kimura",
    "Kovacs", "Larsen", "Lindqvist", "Lopez", "Marsh", "Mendes",
    "Moreau", "Nakamura", "Novak", "Okafor", "Ortega", "Park",
    "Petrov", "Quintero", "Rahman", "Reyes", "Richter", "Rossi",
    "Santos", "Schmidt", "Silva", "Sorensen", "Suzuki", "Tanaka",
    "Torres", "Unger", "Vargas", "Weber", "Xu", "Yamamoto", "Zhang",
    "Ziegler")

  val companyStems: Array[String] = Array(
    "Acme", "Apex", "Atlas", "Aurora", "Beacon", "Blue Harbor",
    "Bright Peak", "Cascade", "Cedar", "Cobalt", "Crescent", "Delta",
    "Ember", "Evergreen", "Falcon", "Granite", "Harbor", "Horizon",
    "Ironwood", "Juniper", "Keystone", "Lakeside", "Lumen", "Meridian",
    "Northwind", "Oakline", "Orchid", "Pinnacle", "Quartz", "Redwood",
    "Sable", "Silverline", "Summit", "Sycamore", "Tidewater", "Vertex",
    "Westbrook", "Willow", "Zenith")

  val companySuffixes: Array[String] = Array(
    "LLC", "Inc", "Group", "Holdings", "Labs", "Partners", "Systems",
    "Industries", "Ventures", "Co")

  val streets: Array[String] = Array(
    "Maple Street", "Oak Avenue", "Pine Road", "Cedar Lane",
    "Elm Drive", "Birch Boulevard", "Willow Way", "Chestnut Court",
    "Juniper Terrace", "Aspen Circle", "Magnolia Place", "Laurel Walk",
    "Hawthorn Row", "Sycamore Alley", "Poplar Crescent", "Linden Path")

  val cities: Array[String] = Array(
    "Springfield", "Riverton", "Lakewood", "Fairview", "Georgetown",
    "Ashford", "Brookhaven", "Cedarville", "Dunmore", "Eastport",
    "Foxton", "Glenwood", "Hillcrest", "Kingsley", "Larkspur",
    "Millbrook", "Northfield", "Oakdale", "Pinehurst", "Quarrytown",
    "Rosewood", "Stonebridge", "Thornbury", "Westgate")

  /** RFC 2606 reserved domains — guaranteed non-deliverable, mirroring the
    * reference faker's `safe_email` semantics. */
  val emailDomains: Array[String] = Array(
    "example.com", "example.org", "example.net")

  private def utf8(words: Array[String]): Array[Array[Byte]] =
    words.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  // Lowercased with Locale.ROOT, not the JVM default: under tr-TR
  // "Ines".toLowerCase() is "\u0131nes", and a fake must not depend on
  // the locale of the JVM that made it.
  private def lowerUtf8(words: Array[String]): Array[Array[Byte]] =
    utf8(words.map(_.toLowerCase(java.util.Locale.ROOT)))

  val firstNamesUtf8: Array[Array[Byte]] = utf8(firstNames)
  val lastNamesUtf8: Array[Array[Byte]] = utf8(lastNames)
  val firstNamesLowerUtf8: Array[Array[Byte]] = lowerUtf8(firstNames)
  val lastNamesLowerUtf8: Array[Array[Byte]] = lowerUtf8(lastNames)
  val companyStemsUtf8: Array[Array[Byte]] = utf8(companyStems)
  val companySuffixesUtf8: Array[Array[Byte]] = utf8(companySuffixes)
  val streetsUtf8: Array[Array[Byte]] = utf8(streets)
  val citiesUtf8: Array[Array[Byte]] = utf8(cities)
  val emailDomainsUtf8: Array[Array[Byte]] = utf8(emailDomains)
}
